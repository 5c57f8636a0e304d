package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{Published, Snap, SnapOps, SnapSql, Tables}

/** The [[graft.sources.Snap]] snapshot format's contracts, executed:
  * copy-on-write merge (exact carried/rewritten file sets), time
  * travel + snapshot isolation, stats-based pruning, torn-manifest
  * fallback and sweep, the staging crash window, vacuum's horizon, and
  * the manifest commit's landed-but-errored ambiguity (mock connector —
  * the sims fault before the claim, so only the mock reaches it). */
class SnapSpec extends SparkSpec {

  private def tmpLoc(tag: String): HPath =
    new HPath(Files.createTempDirectory(s"snap_$tag").toString, "tbl")

  private def cust: DataFrame = Tables.customer(spark, sf) // keys 0..149

  /** keys [0,10) updated (+1000), [80,90) deleted, {1000,1001}
    * inserted — on the 4-range-bucket layout over [0,149] that is
    * buckets {0, 2} rewritten, bucket 3 gaining an insert file, and
    * buckets {1, 3} carried. */
  private def smallDelta: DataFrame = {
    val upd = cust.filter(col("c_custkey") < 10)
      .withColumn("c_acctbal", col("c_acctbal") + lit(1000.0))
      .withColumn("_deleted", lit(false))
    val del = cust.filter(col("c_custkey") >= 80 && col("c_custkey") < 90)
      .withColumn("_deleted", lit(true))
    val ins = cust.filter(col("c_custkey") < 2)
      .select((col("c_custkey") + 1000L).as("c_custkey"), col("c_name"),
        col("c_nationkey"), lit(9.99).as("c_acctbal"),
        lit("INS").as("c_mktsegment"))
      .withColumn("_deleted", lit(false))
    upd.unionByName(del).unionByName(ins)
  }

  /** The delta applied relationally — the spec's own oracle. */
  private def expectedAfterSmallDelta: DataFrame = {
    val survivors = cust.filter(col("c_custkey") >= 10 &&
      !(col("c_custkey") >= 80 && col("c_custkey") < 90))
    val upd = cust.filter(col("c_custkey") < 10)
      .withColumn("c_acctbal", col("c_acctbal") + lit(1000.0))
    val ins = cust.filter(col("c_custkey") < 2)
      .select((col("c_custkey") + 1000L).as("c_custkey"), col("c_name"),
        col("c_nationkey"), lit(9.99).as("c_acctbal"),
        lit("INS").as("c_mktsegment"))
    survivors.unionByName(upd).unionByName(ins)
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** The contract pass's three routes, by broadcast threshold: the
    * driver path (the session default), its overflow fallback (a
    * threshold no key row fits) and the distributed path (disabled). */
  private val contractPaths =
    Seq("driver" -> None, "overflow" -> Some("1"), "distributed" -> Some("-1"))

  private def onPath[T](threshold: Option[String])(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    threshold.foreach(spark.conf.set(key, _))
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A committed head: version, file set (carried and rewritten alike,
    * with their stats) and rows. */
  private type Committed =
    (Int, Set[(String, Int, Long, String, String)], Set[String])

  /** What a write left at `loc`: the refusal, or the committed head. */
  private def outcome(loc: HPath)(write: => Unit): Either[String, Committed] = {
    val before = Snap.head(spark, loc).get.version
    try {
      write
      val h = Snap.head(spark, loc).get
      Right((h.version,
        h.files.map(f => (f.path, f.bucket, f.rows, f.min, f.max)).toSet,
        rows(Snap.read(spark, loc))))
    } catch { case e: IllegalArgumentException =>
      assert(Snap.head(spark, loc).get.version == before,
        "a refused write committed")
      Left(e.getMessage)
    }
  }

  /** `write` on a fresh `create()`d table once per contract path; the
    * outcomes must agree. Returns the (shared) outcome. */
  private def samePathOutcome(create: HPath => Unit)(
      write: HPath => Unit): Either[String, Committed] = {
    val got = contractPaths.map { case (name, threshold) =>
      val loc = tmpLoc(s"path_$name")
      create(loc)
      name -> onPath(threshold)(outcome(loc)(write(loc)))
    }
    got.tail.foreach { case (name, o) =>
      assert(o == got.head._2, s"$name path: $o, driver path: ${got.head._2}")
    }
    got.head._2
  }

  /** The Spark jobs `body` starts on this thread, in start order, each
    * with the serialized bytes its tasks returned to the driver. A
    * listener follows the jobs carrying this call's local property; a
    * marker job run after `body` closes the record, because the
    * listener sees events in the order they were posted. */
  private def jobsOf[T](body: => T): (T, Seq[Long]) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val prop = "graft.spec.jobCount"
    val tag = s"count-${System.nanoTime()}"
    // touched only on the listener's thread, read after the marker
    val resultBytes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val jobOfStage = scala.collection.mutable.HashMap.empty[Int, Int]
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(prop))) match {
          case Some(`tag`) =>
            e.stageIds.foreach(jobOfStage(_) = resultBytes.size)
            resultBytes += 0L
          case Some(t) if t == tag + "-end" => marker.countDown()
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (j <- jobOfStage.get(e.stageId); tm <- Option(e.taskMetrics))
          resultBytes(j) += tm.resultSize
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(prop, tag)
      val out = try body finally sc.setLocalProperty(prop, tag + "-end")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job's start never reached the listener")
      (out, resultBytes.toList)
    } finally {
      sc.setLocalProperty(prop, null)
      sc.removeSparkListener(listener)
    }
  }

  test("create + read round-trip, both layouts") {
    for (layout <- Seq("hash", "range")) {
      val loc = tmpLoc(s"rt_$layout")
      Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
        layout = layout, tag = "t")
      val h = Snap.head(spark, loc).get
      assert(h.version == 1 && h.layout == layout && h.files.nonEmpty)
      assert(h.files.map(_.rows).sum == 150)
      assert(rows(Snap.read(spark, loc)) == rows(cust))
      // create is idempotent per tag, loud on a foreign tag
      Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
        layout = layout, tag = "t")
      assert(Snap.head(spark, loc).get.version == 1)
      intercept[RuntimeException] {
        Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
          layout = layout, tag = "OTHER")
      }
    }
  }

  test("COW merge: exact carried/rewritten file sets, content correct") {
    val loc = tmpLoc("cow")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val v1 = Snap.head(spark, loc).get
    assert(v1.files.size == 4 && v1.files.map(_.bucket).sorted == Seq(0, 1, 2, 3))
    assert(Snap.merge(spark, loc, smallDelta) == 2)
    val v2 = Snap.head(spark, loc).get
    val v1Paths = v1.files.map(_.path).toSet
    val carried = v2.files.filter(f => v1Paths.contains(f.path))
    val fresh = v2.files.filterNot(f => v1Paths.contains(f.path))
    // buckets 1 and 3 carried BY REFERENCE; 0, 2 rewritten; 3 gains an
    // insert file (its original [113,149] range does not intersect the
    // 1000-range insert keys — the file-level intersection test)
    assert(carried.map(_.bucket).sorted == Seq(1, 3),
      s"carried ${carried.map(f => f.bucket -> f.path)}")
    assert(fresh.map(_.bucket).sorted == Seq(0, 2, 3))
    assert(v2.files.size == 5 && v2.parent == 1)
    // stats describe the new files: the insert file's range is tight
    val insFile = fresh.find(f => f.bucket == 3).get
    assert(insFile.min.toLong == 1000L && insFile.max.toLong == 1001L &&
      insFile.rows == 2)
    assert(rows(Snap.read(spark, loc)) == rows(expectedAfterSmallDelta))
  }

  test("time travel: pinned versions survive later commits; v1 files intact") {
    val loc = tmpLoc("tt")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    Snap.merge(spark, loc, smallDelta)
    // second merge: delete the inserts again
    val del2 = cust.filter(col("c_custkey") < 2)
      .select((col("c_custkey") + 1000L).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .withColumn("_deleted", lit(true))
    assert(Snap.merge(spark, loc, del2) == 3)
    assert(rows(Snap.read(spark, loc, asOf = Some(1))) == rows(cust))
    assert(rows(Snap.read(spark, loc, asOf = Some(2))) ==
      rows(expectedAfterSmallDelta))
    assert(rows(Snap.read(spark, loc, asOf = Some(3))) ==
      rows(expectedAfterSmallDelta.filter(col("c_custkey") < 1000L)))
    val fs = Published.fsOf(loc)
    assert(Snap.atVersion(spark, loc, 1).files.forall(f =>
      fs.exists(new HPath(loc, f.path))),
      "a later commit disturbed v1's immutable files")
  }

  test("pruned scan: strict file subset, same answer as the full scan") {
    val loc = tmpLoc("prune")
    val ord = Tables.orders(spark, sf) // keys 0..1499
    Snap.create(spark, loc, ord, Seq("o_orderkey"), "o_orderkey", 16,
      layout = "range", tag = "t")
    val (df, planned, total) = Snap.prunedScan(spark, loc, 300L, 600L)
    assert(planned > 0 && planned < total, s"planned $planned of $total")
    val full = Snap.read(spark, loc)
      .filter(col("o_orderkey") >= 300 && col("o_orderkey") <= 600)
    assert(rows(df) == rows(full))
    // hash layout degrades to a full scan — every file spans the space
    val hloc = tmpLoc("prune_hash")
    Snap.create(spark, hloc, ord, Seq("o_orderkey"), "o_orderkey", 16,
      layout = "hash", tag = "t")
    val (_, hPlanned, hTotal) = Snap.prunedScan(spark, hloc, 300L, 600L)
    assert(hPlanned == hTotal)
  }

  test("pruned scan plan: inputFiles == the chosen subset, residual " +
      "predicate pushed to the parquet scan") {
    val loc = tmpLoc("plan")
    Snap.create(spark, loc, Tables.orders(spark, sf),
      Seq("o_orderkey"), "o_orderkey", 16, layout = "range", tag = "t")
    val (df, planned, total) = Snap.prunedScan(spark, loc, 300L, 600L)
    assert(df.inputFiles.length == planned && planned < total,
      s"plan scans ${df.inputFiles.length} files, manifest chose $planned of $total")
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.metadata("PushedFilters")
      .contains("GreaterThanOrEqual(o_orderkey,300)"),
      s"residual range not pushed: ${scans.head.metadata("PushedFilters")}")
  }

  test("torn manifest (mid-create crash state) is invisible to readers, " +
      "loud to time travel, and swept by the next commit") {
    val loc = tmpLoc("torn")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val fs = Published.fsOf(loc)
    // a dead writer's partial create at the NEXT version: header bytes,
    // no checksum footer
    scala.util.Using.resource(fs.create(Snap.manifestPath(loc, 2), true))(
      _.write("graft-snap 1\nversion=2\n".getBytes("UTF-8")))
    assert(Snap.head(spark, loc).get.version == 1,
      "a torn manifest must never serve")
    intercept[RuntimeException] { Snap.atVersion(spark, loc, 2) }
    assert(rows(Snap.read(spark, loc)) == rows(cust))
    // the next merge targets version 2, finds the torn file, sweeps it
    // (under the lease nobody live can own it) and commits
    assert(Snap.merge(spark, loc, smallDelta) == 2)
    assert(Snap.head(spark, loc).get.version == 2)
    assert(Snap.parse(new String(render(Snap.head(spark, loc).get))) != None)
    assert(rows(Snap.read(spark, loc)) == rows(expectedAfterSmallDelta))
  }

  test("format version gate: delta-free commits stay v1, MOR commits " +
      "declare v2, and a LANDED future-version manifest refuses loudly " +
      "instead of silently demoting the head to its parent") {
    val loc = tmpLoc("fmtgate")
    val fs = Published.fsOf(loc)
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    def headerOf(v: Int): String = scala.util.Using.resource(
      fs.open(Snap.manifestPath(loc, v)))(in =>
        new String(in.readAllBytes(), "UTF-8")).takeWhile(_ != '\n')
    assert(headerOf(1) == "graft-snap 1",
      "a delta-free commit must stay readable by pre-MOR builds")
    Snap.mergeMor(spark, loc, smallDelta)
    assert(headerOf(2) == "graft-snap 2",
      "a manifest carrying MOR deltas must gate pre-MOR readers out — " +
        "they would otherwise serve base files only (resurrected " +
        "deletes, dropped upserts)")
    // folding the deltas drops back to the lowest expressive version
    Snap.optimize(spark, loc)
    assert(Snap.head(spark, loc).get.deltas.isEmpty)
    assert(headerOf(3) == "graft-snap 1",
      "a fold that clears the deltas must not keep the feature gate up")
    // deletion vectors gate at version 3
    Snap.deleteVector(spark, loc,
      cust.filter(col("c_custkey") === 5).select(col("c_custkey")))
    assert(headerOf(4) == "graft-snap 3",
      "a manifest carrying deletion vectors must gate pre-DV readers out")
    Snap.optimize(spark, loc)
    assert(Snap.head(spark, loc).get.dvs.isEmpty)
    assert(headerOf(5) == "graft-snap 1")
    // a checksummed manifest from a FUTURE build is a LANDED commit the
    // reader cannot apply: loud error, never a fallback to the parent
    val body = "graft-snap 99\nversion=6\n"
    val sum = java.lang.Long.toHexString(
      graft.expressions.GraftHash.h60(body.getBytes("UTF-8")))
    scala.util.Using.resource(fs.create(Snap.manifestPath(loc, 6), true))(
      _.write((body + s"#commit $sum\n").getBytes("UTF-8")))
    intercept[IllegalStateException] { Snap.head(spark, loc) }
    intercept[IllegalStateException] { Snap.atVersion(spark, loc, 6) }
  }

  test("deletion vectors: a delete-only commit lands positional DV " +
      "files (plus a slim residual delta only when outstanding deltas " +
      "hold live images), row sets ≡ key-delta ≡ COW, carried files " +
      "untouched, changelog emits resolved pre-images, folds retire " +
      "the targets' DVs, time travel intact") {
    import org.apache.spark.sql.DataFrame
    def mk(tag: String): HPath = {
      val loc = tmpLoc(s"dvw_$tag")
      Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
        layout = "range", tag = "t")
      loc
    }
    val (locV, locD, locC) = (mk("v"), mk("d"), mk("c"))
    // a prior MOR upsert (keys 0..4 → bucket 0) puts live images in an
    // outstanding delta file — the residual-delta path must cover them
    val up = cust.filter(col("c_custkey") < 5)
      .withColumn("c_acctbal", lit(111.0)).withColumn("_deleted", lit(false))
    Seq(locV, locD).foreach(Snap.mergeMor(spark, _, up))
    Snap.merge(spark, locC, up)
    // delete: the upserted keys 0..2 (delta-resident images) + a spread
    // of base keys + absent keys (no-ops)
    val delRows: DataFrame = cust
      .filter(col("c_custkey") < 3 || col("c_custkey") % 10 === 7)
      .unionByName(cust.filter(col("c_custkey") < 2)
        .withColumn("c_custkey", col("c_custkey") + 5000L))
      .withColumn("_deleted", lit(true))
    val v3 = Snap.deleteVector(spark, locV, delRows.select(col("c_custkey")))
    Snap.mergeMor(spark, locD, delRows)
    Snap.merge(spark, locC, delRows)
    assert(rows(Snap.read(spark, locV)) == rows(Snap.read(spark, locD)),
      "DV read diverged from the key-delta twin")
    assert(rows(Snap.read(spark, locV)) == rows(Snap.read(spark, locC)),
      "DV read diverged from the COW twin")
    // manifest shape: everything carried by reference; positional
    // entries name their targets; the residual delta exists (bucket 0
    // holds an outstanding delta with live images)
    val hv = Snap.atVersion(spark, locV, v3)
    val v2m = Snap.atVersion(spark, locV, 2)
    assert(hv.op == "dv" && hv.files.map(_.path) == v2m.files.map(_.path),
      "a DV commit must carry every base file by reference")
    assert(hv.dvs.nonEmpty, "no deletion vectors landed")
    val baseNames = hv.files.map(f => Snap.fileNameOf(f.path)).toSet
    assert(hv.dvs.forall(v => baseNames.contains(Snap.dvTargetOf(v))),
      "every DV must target a live base file")
    assert(hv.deltas.size == v2m.deltas.size + 1,
      "one slim residual delta expected (outstanding delta held live images)")
    // the DV files are O(positions): single-column parquet
    val fs = Published.fsOf(locV)
    val dvSchema = spark.read.parquet(
      fs.makeQualified(new HPath(locV, hv.dvs.head.path)).toString).schema
    assert(dvSchema.fieldNames.toSeq == Seq("_graft_pos"),
      s"a DV file carries positions only, got ${dvSchema.fieldNames.toSeq}")
    // time travel: the pre-delete snapshot still serves
    assert(rows(Snap.read(spark, locV, asOf = Some(2))) ==
      rows(Snap.read(spark, locD, asOf = Some(2))))
    // changelog: the dv step emits exactly the live deleted keys, with
    // RESOLVED pre-images (the upserted 111.0, not the stale base rows)
    val ch = Snap.changes(spark, locV, 2, v3)
    assert(ch.select(col("_change_type")).distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    val expectDel = Snap.read(spark, locV, asOf = Some(2))
      .join(delRows.select(col("c_custkey")), Seq("c_custkey"), "left_semi")
    assert(rows(ch.select(expectDel.columns.map(col).toSeq: _*)) ==
      rows(expectDel), "dv changelog must emit the resolved pre-images")
    // pruned scans stay DV-aware
    val (pdf, _, _) = Snap.prunedScan(spark, locV, 0L, 60L)
    assert(rows(pdf) == rows(Snap.read(spark, locC)
      .filter(col("c_custkey") <= 60)))
    // the SQL-entry relation applies DVs too
    SnapSql.registerView(spark, "graft_dv_view", locV)
    assert(rows(spark.sql("SELECT * FROM graft_dv_view")) ==
      rows(Snap.read(spark, locV)))
    // a fold retires the folded targets' DVs and preserves content
    val before = rows(Snap.read(spark, locV))
    Snap.optimize(spark, locV)
    val hf = Snap.head(spark, locV).get
    assert(hf.dvs.isEmpty && hf.deltas.isEmpty,
      "optimize must apply and retire deletion vectors")
    assert(rows(Snap.read(spark, locV)) == before)
    // pure-DV shape (no outstanding deltas anywhere): no residual
    val locP = mk("p")
    Snap.deleteVector(spark, locP, cust.filter(col("c_custkey") % 5 === 1)
      .select(col("c_custkey")))
    val hp = Snap.head(spark, locP).get
    assert(hp.dvs.nonEmpty && hp.deltas.isEmpty,
      "a pure positional delete must not land a residual delta")
    assert(rows(Snap.read(spark, locP)) ==
      rows(cust.filter(col("c_custkey") % 5 =!= 1)))
    // a COW merge touching a DV'd bucket folds ITS targets' DVs and
    // carries the rest
    val touch = cust.filter(col("c_custkey") === 1)
      .withColumn("c_acctbal", lit(9.5)).withColumn("_deleted", lit(false))
    Snap.merge(spark, locP, touch)
    val hm = Snap.head(spark, locP).get
    assert(hm.dvs.size < hp.dvs.size,
      "the rewritten bucket's DVs must fold into the COW rewrite")
    assert(hm.dvs.nonEmpty, "untouched buckets' DVs must carry")
    // key 1 died by DV, then the COW merge re-inserted it at 9.5
    assert(rows(Snap.read(spark, locP)) ==
      rows(cust.filter(col("c_custkey") % 5 =!= 1)
        .unionByName(cust.filter(col("c_custkey") === 1)
          .withColumn("c_acctbal", lit(9.5)))))
  }

  test("changelog stream source: readStream follows COW, MOR and DV " +
      "commits per version, skips neutral folds, replays the create on " +
      "startingVersion=1, applies back to the head, and a restart " +
      "continues from the checkpoint offset exactly-once") {
    val loc = tmpLoc("chsrc")
    val ckpt = Files.createTempDirectory("chsrc_ck").toString
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    // foreachBatch collector: supports checkpoint recovery (the memory
    // sink does not), which is exactly what the restart leg pins
    val collected =
      new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    def start() = spark.readStream.format("graft-snap-changes")
      .option("path", loc.toString).option("startingVersion", "1").load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(collected.add); ()
      }
      .start()
    def mem: DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(collected.asScala.toSeq.asJava,
        graft.sources.SnapChangesTable.changeSchema(cust.schema))
    }
    def await(cond: => Boolean, what: String): Unit = {
      val deadline = System.currentTimeMillis() + 120000L
      while (!cond && System.currentTimeMillis() < deadline)
        Thread.sleep(150L)
      assert(cond, s"stream never reached: $what")
    }
    def seen(v: Int): Boolean =
      mem.filter(col("_commit_version") === v).limit(1).count() > 0
    val morDelta = cust.filter(col("c_custkey") >= 100 &&
        col("c_custkey") < 110)
      .withColumn("c_acctbal", col("c_acctbal") + lit(77.0))
      .withColumn("_deleted", lit(false))
    var q = start()
    try {
      await(seen(1), "the create replay")
      Snap.merge(spark, loc, smallDelta) // v2 COW
      Snap.mergeMor(spark, loc, morDelta) // v3 MOR
      await(seen(3), "v3")
    } finally q.stop()
    // per-version parity with the batch changelog: upserts carry full
    // values (insert+update classes), deletes compare by key
    def streamUp(v: Int): Set[String] = rows(
      mem.filter(col("_commit_version") === v &&
        col("_change_type") === "upsert")
        .select(cust.columns.map(col).toSeq: _*))
    def streamDelKeys(v: Int): Set[String] = rows(
      mem.filter(col("_commit_version") === v &&
        col("_change_type") === "delete").select(col("c_custkey")))
    def chUp(v: Int): Set[String] = rows(
      Snap.changes(spark, loc, v - 1, v)
        .filter(col("_change_type").isin("insert", "update"))
        .select(cust.columns.map(col).toSeq: _*))
    def chDelKeys(v: Int): Set[String] = rows(
      Snap.changes(spark, loc, v - 1, v)
        .filter(col("_change_type") === "delete").select(col("c_custkey")))
    assert(streamUp(1) == rows(cust),
      "startingVersion=1 must replay the create as upserts")
    assert(streamDelKeys(1).isEmpty)
    Seq(2, 3).foreach { v =>
      assert(streamUp(v) == chUp(v), s"v$v upserts diverged from changes()")
      assert(streamDelKeys(v) == chDelKeys(v), s"v$v delete keys diverged")
    }
    // the collapsed apply over everything seen reproduces the head
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_custkey")).orderBy(col("_commit_version").desc)
    val applied = mem.withColumn("__graft_rn",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__graft_rn") === 1 && col("_change_type") === "upsert")
      .select(cust.columns.map(col).toSeq: _*)
    assert(rows(applied) == rows(Snap.read(spark, loc)),
      "collapsed stream apply must reproduce the table head")
    // commits landing while STOPPED: a positional delete (alive keys
    // only) and a row-set-neutral fold
    Snap.deleteVector(spark, loc,
      cust.filter(col("c_custkey") >= 60 && col("c_custkey") < 70)
        .select(col("c_custkey"))) // v4
    Snap.optimize(spark, loc) // v5, neutral
    collected.clear() // whatever arrives now is the pure continuation
    q = start()
    try {
      await(seen(4), "the resumed DV step")
      // versions 1-3 must NOT re-deliver across the restart
      assert(mem.filter(col("_commit_version") < 4).count() == 0,
        "restart re-delivered versions before the checkpointed offset")
      assert(streamDelKeys(4) == chDelKeys(4),
        "DV step delete keys diverged")
      assert(streamUp(4).isEmpty, "a delete-only step emitted upserts")
      // give the neutral fold a tick: it must contribute nothing
      Thread.sleep(500L)
      assert(mem.filter(col("_commit_version") === 5).count() == 0,
        "a row-set-neutral optimize leaked changelog rows")
    } finally q.stop()
  }

  test("branches + write-audit-publish: metadata-only fork, two-way " +
      "isolation, failed audit drops without a trace (vacuum sweeps the " +
      "branch's files), publish fast-forwards gated on the fork version, " +
      "per-ref time travel, changelog classifies the publish") {
    import graft.sources.SnapBranch
    val loc = tmpLoc("wap")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val mainV1 = rows(Snap.read(spark, loc))

    // ---- failed-audit round: the bad batch never reaches main
    assert(SnapBranch.create(spark, loc, "audit") == 1)
    assert(SnapBranch.atVersion(spark, loc, "audit", 1).files.map(_.path) ==
      Snap.head(spark, loc).get.files.map(_.path),
      "a fork must reference main's files — zero copy")
    val bad = cust.filter(col("c_custkey") < 5)
      .withColumn("c_acctbal", lit(-99999.0))
      .withColumn("_deleted", lit(false))
    SnapBranch.merge(spark, loc, "audit", bad)
    assert(Snap.head(spark, loc).get.version == 1 &&
      rows(Snap.read(spark, loc)) == mainV1,
      "branch commits must be invisible to main")
    // the audit, over EXACTLY what publish would make live
    assert(SnapBranch.read(spark, loc, "audit")
      .filter(col("c_acctbal") < -9000).count() == 5, "audit must see the rot")
    val mainPaths = Snap.head(spark, loc).get.files.map(_.path).toSet
    val branchOnly = SnapBranch.head(spark, loc, "audit").get
      .files.map(_.path).filterNot(mainPaths.contains)
    assert(branchOnly.nonEmpty)
    SnapBranch.drop(spark, loc, "audit")
    val (_, swept, _) = Snap.vacuum(spark, loc, keepVersions = 99)
    assert(swept == branchOnly.size,
      s"vacuum must sweep exactly the dropped branch's files ($swept vs " +
        s"${branchOnly.size})")
    assert(rows(Snap.read(spark, loc)) == mainV1)

    // ---- good round: fork → stage twice → audit passes → publish
    SnapBranch.create(spark, loc, "good")
    val upd = cust.filter(col("c_custkey") < 10)
      .withColumn("c_acctbal", col("c_acctbal") + lit(1000.0))
      .withColumn("_deleted", lit(false))
    val del = cust.filter(col("c_custkey") >= 80 && col("c_custkey") < 90)
      .withColumn("_deleted", lit(true))
    assert(SnapBranch.merge(spark, loc, "good", upd) == 2)
    assert(SnapBranch.merge(spark, loc, "good", del) == 3)
    // per-ref time travel: the branch's own history
    assert(rows(SnapBranch.read(spark, loc, "good", asOf = Some(2))) ==
      rows(cust.withColumn("c_acctbal",
        when(col("c_custkey") < 10, col("c_acctbal") + 1000.0)
          .otherwise(col("c_acctbal")))))
    val expect = cust.filter(!(col("c_custkey") >= 80 && col("c_custkey") < 90))
      .withColumn("c_acctbal",
        when(col("c_custkey") < 10, col("c_acctbal") + 1000.0)
          .otherwise(col("c_acctbal")))
    // branch keeps serving while main is read (two-way isolation)
    assert(rows(Snap.read(spark, loc)) == mainV1)
    assert(rows(SnapBranch.read(spark, loc, "good")) == rows(expect))
    // audit green → publish
    assert(SnapBranch.read(spark, loc, "good")
      .filter(col("c_acctbal") < -9000).count() == 0)
    assert(SnapBranch.publish(spark, loc, "good") == 2)
    val h = Snap.head(spark, loc).get
    assert(h.version == 2 && h.op == "publish" && h.base == 1)
    assert(rows(Snap.read(spark, loc)) == rows(expect))
    assert(SnapBranch.list(spark, loc).isEmpty,
      "a published branch's chain must be gone")
    // the changelog classifies the publish as its net row changes
    val ch = Snap.changes(spark, loc, 1, 2)
    assert(ch.filter(col("_change_type") === "delete").count() == 10)
    assert(ch.filter(col("_change_type") === "update").count() == 10)
    assert(ch.filter(col("_change_type") === "insert").count() == 0)

    // ---- conflict gate: a rival main commit since the fork refuses
    SnapBranch.create(spark, loc, "late")
    SnapBranch.merge(spark, loc, "late",
      cust.filter(col("c_custkey") === 30)
        .withColumn("c_acctbal", lit(1.0)).withColumn("_deleted", lit(false)))
    Snap.merge(spark, loc, cust.filter(col("c_custkey") === 31)
      .withColumn("c_acctbal", lit(2.0)).withColumn("_deleted", lit(false)))
    intercept[Snap.SnapConflict] { SnapBranch.publish(spark, loc, "late") }
    assert(Snap.read(spark, loc).filter(col("c_custkey") === 30)
      .head().getAs[Double]("c_acctbal") != 1.0,
      "a refused publish must leave no trace on main")
    SnapBranch.drop(spark, loc, "late")
  }

  private def render(m: Snap.SnapManifest): Array[Byte] = Snap.render(m)

  test("crash after staging, before the manifest commit: nothing serves, " +
      "orphans are invisible, vacuum sweeps them, the retry lands") {
    val loc = tmpLoc("crash")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    RestartKit.windowHook = name =>
      if (name == "snapstage") throw new RuntimeException("crash: snapstage")
    try intercept[RuntimeException] { Snap.merge(spark, loc, smallDelta) }
    finally RestartKit.windowHook = _ => ()
    assert(Snap.head(spark, loc).get.version == 1,
      "a crashed merge must not advance the head")
    assert(rows(Snap.read(spark, loc)) == rows(cust))
    // the crashed attempt's moved-but-unreferenced data files exist …
    val fs = Published.fsOf(loc)
    val orphans = fs.listStatus(new HPath(loc, "data"))
      .map(_.getPath.getName).count(_.startsWith("v2-"))
    assert(orphans == 3, s"expected 3 orphan files, saw $orphans")
    // … vacuum sweeps exactly them …
    val (m, d, _) = Snap.vacuum(spark, loc, keepVersions = 5)
    assert(m == 0 && d == 3)
    // … and the retry commits clean
    assert(Snap.merge(spark, loc, smallDelta) == 2)
    assert(rows(Snap.read(spark, loc)) == rows(expectedAfterSmallDelta))
  }

  test("vacuum: past-horizon versions and their files go; head still serves; " +
      "time travel past the horizon is loud") {
    val loc = tmpLoc("vac")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    Snap.merge(spark, loc, smallDelta)
    val v1Files = Snap.atVersion(spark, loc, 1).files.map(_.path)
    val v2 = Snap.head(spark, loc).get
    val (m, d, _) = Snap.vacuum(spark, loc, keepVersions = 1)
    assert(m == 1, "manifest v1 should be swept")
    // exactly v1's non-carried files die; v2's carried ones live
    val v2Paths = v2.files.map(_.path).toSet
    assert(d == v1Files.count(p => !v2Paths.contains(p)))
    assert(rows(Snap.read(spark, loc)) == rows(expectedAfterSmallDelta))
    intercept[RuntimeException] { Snap.atVersion(spark, loc, 1) }
    val fs = Published.fsOf(loc)
    v1Files.filterNot(v2Paths.contains).foreach(p =>
      assert(!fs.exists(new HPath(loc, p)), s"$p not vacuumed"))
  }

  test("contract guards: duplicate-key delta and missing columns refuse") {
    val loc = tmpLoc("guard")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val keyType = cust.schema("c_custkey").dataType
    // the data guards refuse on every contract path
    for ((name, threshold) <- contractPaths) onPath(threshold) {
      withClue(s"$name path: ") {
        val dup = smallDelta.unionByName(smallDelta)
        intercept[IllegalArgumentException] { Snap.merge(spark, loc, dup) }
        // a NULL _deleted flag refuses loudly — filter(!col) would
        // silently drop the row from the upserts while its key still
        // anti-joins the existing row away: a silent row loss
        intercept[IllegalArgumentException] {
          Snap.merge(spark, loc, smallDelta.withColumn("_deleted",
            when(col("c_custkey") === 5, lit(null).cast("boolean"))
              .otherwise(col("_deleted"))))
        }
        // a NULL key neither matches through the anti-join nor carries
        // stats
        val nullKey = smallDelta.withColumn("c_custkey",
          when(col("c_custkey") === 5, lit(null).cast(keyType))
            .otherwise(col("c_custkey")))
        intercept[IllegalArgumentException] { Snap.merge(spark, loc, nullKey) }
        intercept[IllegalArgumentException] { Snap.mergeOcc(spark, loc, dup) }
        intercept[IllegalArgumentException] { Snap.mergeMor(spark, loc, dup) }
        intercept[IllegalArgumentException] {
          Snap.deleteVector(spark, loc, dup.select(col("c_custkey")))
        }
        intercept[IllegalArgumentException] {
          Snap.deleteVector(spark, loc, nullKey.select(col("c_custkey")))
        }
      }
    }
    intercept[IllegalArgumentException] {
      Snap.merge(spark, loc, smallDelta.drop("c_mktsegment"))
    }
    intercept[IllegalArgumentException] {
      Snap.merge(spark, loc, smallDelta.drop("_deleted"))
    }
    assert(Snap.head(spark, loc).get.version == 1, "a refused merge committed")
    // a TABLE column named like the flag would silently double as the
    // flag (all-false data in every rewrite) — refuse loudly
    val floc = tmpLoc("flagname")
    Snap.create(spark, floc, cust.withColumn("_deleted", lit(true)),
      Seq("c_custkey"), "c_custkey", 4, layout = "range", tag = "t")
    intercept[IllegalArgumentException] {
      Snap.merge(spark, floc, cust.withColumn("_deleted", lit(true))
        .withColumn("_deleted", lit(false)))
    }
    // …and the changelog's meta columns may not shadow data either
    Snap.merge(spark, floc, cust.filter(col("c_custkey") === 1)
      .withColumn("_deleted", lit(true)).withColumn("_flag", lit(false)),
      deletedCol = "_flag")
    val cloc = tmpLoc("metaname")
    Snap.create(spark, cloc, cust.withColumn("_change_type", lit("x")),
      Seq("c_custkey"), "c_custkey", 4, layout = "range", tag = "t")
    intercept[IllegalArgumentException] {
      Snap.changes(spark, cloc, 1, 1)
    }
  }

  test("contract pass: driver, overflow and distributed paths refuse and " +
      "commit alike — composite, string-hash and signed-zero keys") {
    def createOn(df: DataFrame, keys: Seq[String], layout: String)(
        loc: HPath): Unit =
      Snap.create(spark, loc, df, keys, "c_custkey", 4, layout = layout,
        tag = "t")
    // composite (c_custkey, c_name): an exact duplicate refuses; a row
    // sharing only c_custkey is a distinct key (an insert)
    val byName = createOn(cust, Seq("c_custkey", "c_name"), "range") _
    val dupRow = smallDelta.filter(col("c_custkey") === 3)
    assert(samePathOutcome(byName)(Snap.merge(spark, _,
      smallDelta.unionByName(dupRow))).isLeft)
    assert(samePathOutcome(byName)(Snap.merge(spark, _,
      smallDelta.unionByName(dupRow.withColumn("c_name", lit("other")))))
      .isRight)
    // a string key on hash layout: the ranges compare as strings
    val strKeyed = cust.withColumn("c_custkey", col("c_custkey").cast("string"))
    val strDelta = smallDelta.withColumn("c_custkey",
      col("c_custkey").cast("string"))
    val byString = createOn(strKeyed, Seq("c_custkey"), "hash") _
    assert(samePathOutcome(byString)(Snap.merge(spark, _, strDelta)).isRight)
    assert(samePathOutcome(byString)(Snap.merge(spark, _,
      strDelta.unionByName(strDelta.filter(col("c_custkey") === "7"))))
      .isLeft)
    // (c_custkey, k2 double): 0.0 and -0.0 are ONE key to a group-by,
    // so both in one delta is a duplicate, and -0.0 updates the 0.0 row
    val signed = cust.withColumn("k2", lit(0.0))
    val bySigned = createOn(signed, Seq("c_custkey", "k2"), "range") _
    val five = signed.filter(col("c_custkey") === 5)
      .withColumn("c_acctbal", lit(-1.0)).withColumn("_deleted", lit(false))
    assert(samePathOutcome(bySigned)(Snap.merge(spark, _,
      five.unionByName(five.withColumn("k2", lit(-0.0))))).isLeft)
    val updated = samePathOutcome(bySigned)(Snap.merge(spark, _,
      five.withColumn("k2", lit(-0.0))))
    val fiveRows = updated.toOption.get._3.filter(_.startsWith("5|"))
    assert(fiveRows.size == 1 && fiveRows.head.contains("|-1.0|"), fiveRows)
  }

  test("a caller-cached delta stays cached through every snap write; an " +
      "uncached one is released") {
    val loc = tmpLoc("callercache")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val d = smallDelta.persist()
    try {
      d.count()
      Snap.merge(spark, loc, d)
      assert(d.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "merge evicted the caller's cache entry")
      Snap.mergeOcc(spark, loc, d)
      Snap.mergeMor(spark, loc, d)
      Snap.deleteVector(spark, loc, d.filter(col("_deleted")))
      graft.sources.SnapBranch.create(spark, loc, "cached")
      graft.sources.SnapBranch.merge(spark, loc, "cached", d)
      assert(d.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "a snap write evicted the caller's cache entry")
    } finally { d.unpersist(); () }
    val fresh = smallDelta
    Snap.merge(spark, loc, fresh)
    assert(fresh.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "merge left its own persist of the delta behind")
  }

  test("a small-delta merge runs at most 4 Spark jobs; its contract pass " +
      "is one job and agrees with the distributed pass") {
    val loc = tmpLoc("jobs")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val m = Snap.head(spark, loc).get
    val delta = smallDelta
    val (local, passJobs) = jobsOf(
      Snap.contractPass(spark, m, delta, Some("_deleted"), "refused"))
    assert(passJobs.size == 1, s"the contract pass ran ${passJobs.size} jobs")
    assert(local.keyRows.isDefined, "the driver path was not taken")
    val distributed = onPath(Some("-1"))(
      Snap.contractPass(spark, m, delta, Some("_deleted"), "refused"))
    assert(distributed.keyRows.isEmpty)
    assert(local.ranges == distributed.ranges)
    assert(local.deltaRows == delta.count() &&
      distributed.deltaRows == local.deltaRows)
    val (v, mergeJobs) = jobsOf(Snap.merge(spark, loc, delta))
    assert(v == 2)
    assert(mergeJobs.size <= 4, s"a small-delta merge ran ${mergeJobs.size} jobs")
    assert(rows(Snap.read(spark, loc)) == rows(expectedAfterSmallDelta))
  }

  test("a delta past the driver bound in every one of many partitions " +
      "returns about the bound in all and merges through the fallback") {
    val loc = tmpLoc("overflow")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val m = Snap.head(spark, loc).get
    // one long key is 24 bytes a key row, so the bound is `perPart`
    // rows — and each of the 16 partitions holds that many
    val perPart = 2000L
    val parts = 16
    val threshold = perPart * 24
    val ins = spark.range(0L, parts * perPart, 1L, parts).select(
      cust.schema.fields.toSeq.map(f => (f.name match {
        case "c_custkey" => col("id") + 10000L
        case "c_name" => concat(lit("Customer#"), col("id").cast("string"))
        case "c_mktsegment" => lit("BULK")
        case _ => lit(1)
      }).cast(f.dataType).as(f.name)) :+ lit(false).as("_deleted"): _*)
    onPath(Some(threshold.toString)) {
      val (info, jobs) = jobsOf(
        Snap.contractPass(spark, m, ins, Some("_deleted"), "refused"))
      if (info.keyRows.nonEmpty) fail("the driver path held a delta past its bound")
      assert(info.deltaRows == parts * perPart)
      // the driver job (the first) returns about the bound in all, not a
      // bound per partition: 16 × 2,000 rows would be ~1.5 MB
      assert(jobs.head <= 2 * threshold + parts * 4096L,
        s"the driver job returned ${jobs.head} bytes (jobs: $jobs)")
      assert(Snap.merge(spark, loc, ins) == 2)
    }
    assert(rows(Snap.read(spark, loc)) ==
      rows(cust.unionByName(ins.drop("_deleted"))))
  }

  test("create refuses a string key on range layout and a reserved '_b' " +
      "column — both silent-corruption shapes (r17 advice)") {
    // range + string key: bucketExpr's cast(long) nulls, every row lands
    // in bucket 0 with (0,0) stats — refuse at creation
    val strKeyed = cust.withColumn("c_custkey", col("c_custkey").cast("string"))
    intercept[IllegalArgumentException] {
      Snap.create(spark, tmpLoc("strrange"), strKeyed,
        Seq("c_custkey"), "c_custkey", 4, layout = "range", tag = "t")
    }
    // …but hash layout takes string keys fine
    val hloc = tmpLoc("strhash")
    Snap.create(spark, hloc, strKeyed, Seq("c_custkey"), "c_custkey", 4,
      layout = "hash", tag = "t")
    assert(rows(Snap.read(spark, hloc)) == rows(strKeyed))
    // a user column literally named "_b" would be replaced by the
    // staging partition column and stripped from every written file
    intercept[IllegalArgumentException] {
      Snap.create(spark, tmpLoc("resb"), cust.withColumn("_b", lit(1)),
        Seq("c_custkey"), "c_custkey", 4, layout = "range", tag = "t")
    }
  }

  test("manifest commit whose PUT lands but errors (response lost, cleanup " +
      "delete blipped) resolves to COMMITTED — exactly one manifest, no stall") {
    registerSchemeImpl("fs.graftmltt.impl",
      classOf[ManifestLandThenThrowFileSystem])
    val dir = Files.createTempDirectory("snap_mltt")
    val loc = new HPath(s"graftmltt://$dir/tbl")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    ManifestLandThenThrow.landed.set(0)
    ManifestLandThenThrow.armed = true
    try assert(Snap.merge(spark, loc, smallDelta) == 2)
    finally ManifestLandThenThrow.armed = false
    assert(ManifestLandThenThrow.landed.get() >= 1, "window never fired (vacuous)")
    // exactly one committed v2 on disk, and it serves
    val nio = dir.resolve("tbl")
    val manifests = java.nio.file.Files.list(nio).iterator()
    var v2Count = 0
    while (manifests.hasNext) {
      val p = manifests.next()
      if (p.getFileName.toString == "manifest-v00000002") v2Count += 1
    }
    assert(v2Count == 1)
    assert(rows(Snap.read(spark, loc)) == rows(expectedAfterSmallDelta))
  }

  test("a rival's valid manifest at the target version is a loud " +
      "SnapConflict, never a silent re-base or overwrite") {
    val loc = tmpLoc("rival")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val fs = Published.fsOf(loc)
    val base = Snap.head(spark, loc).get
    val rival = base.copy(version = 2, parent = 1, writer = "rival-token")
    scala.util.Using.resource(fs.create(Snap.manifestPath(loc, 2), true))(
      _.write(render(rival)))
    val mine = base.copy(version = 2, parent = 1, writer = "my-token")
    intercept[Snap.SnapConflict] {
      Snap.commitManifest(fs, loc, mine, () => ())
    }
    // the rival's commit is untouched
    assert(Snap.head(spark, loc).get.writer == "rival-token")
  }

  test("q130/q131/q132 demo lifecycle is replay-stable at spec scale, and " +
      "the COW indicators hold OFF the oracle's sf (the M-relative design)") {
    val q130 = SnapOps.q130SnapMerge(spark, sf).collect()
    assert(q130.nonEmpty)
    // sf0.001 is NOT the oracle's scale — the carried-6-of-8 /
    // rewrote-3 shape must hold here too or the indicators are
    // sf-pinned constants (review finding, r17)
    assert(q130.forall(_.getAs[Int]("cow_carried_ok") == 1))
    assert(q130.forall(_.getAs[Int]("cow_rewrote_ok") == 1))
    val a = q130.map(_.mkString("|")).toSet
    val b = rows(SnapOps.q130SnapMerge(spark, sf)) // attach path, no rebuild
    assert(a == b)
    val tt = SnapOps.q131SnapTimeTravel(spark, sf).collect()
    assert(tt.length == 3 && tt.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(tt.forall(_.getAs[Int]("v1_files_intact") == 1))
    val pr = SnapOps.q132SnapPrune(spark, sf).collect()
    assert(pr.length == 1 && pr(0).getAs[Int]("files_skipped_ok") == 1)
  }

  test("optimize folds fat buckets content-neutrally, carries the rest by " +
      "reference, and its staging crash window leaves the head serving") {
    val loc = tmpLoc("opt")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    // two disjoint append batches -> bucket 3 accumulates files
    def batch(k: Int) = cust.filter(col("c_custkey") < 5)
      .select((col("c_custkey") + lit(k * 1000L)).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
      .withColumn("_deleted", lit(false))
    Snap.merge(spark, loc, batch(1))
    Snap.merge(spark, loc, batch(2))
    val v3 = Snap.head(spark, loc).get
    assert(v3.files.count(_.bucket == 3) == 3, "appends did not accumulate")
    val before = rows(Snap.read(spark, loc))
    // a fold below the threshold is a clean no-op
    assert(Snap.optimize(spark, loc, minFilesPerBucket = 4) == 3)
    // crash after the fold's staging, before its commit: head unchanged
    RestartKit.windowHook = name =>
      if (name == "snapstage") throw new RuntimeException("crash: optstage")
    try intercept[RuntimeException] { Snap.optimize(spark, loc, 3) }
    finally RestartKit.windowHook = _ => ()
    assert(Snap.head(spark, loc).get.version == 3)
    assert(rows(Snap.read(spark, loc)) == before)
    // the retry folds: one top-bucket file, others carried by reference
    assert(Snap.optimize(spark, loc, minFilesPerBucket = 3) == 4)
    val v4 = Snap.head(spark, loc).get
    assert(v4.files.count(_.bucket == 3) == 1)
    assert(v4.files.filter(_.bucket != 3).map(_.path).toSet ==
      v3.files.filter(_.bucket != 3).map(_.path).toSet)
    assert(rows(Snap.read(spark, loc)) == before, "fold changed content")
    // row-neutral per the manifests too
    assert(v3.files.map(_.rows).sum == v4.files.map(_.rows).sum)
  }

  test("q133 auto-optimize lifecycle is replay-stable with fold+carry " +
      "indicators green off the oracle's sf") {
    val a = SnapOps.q133SnapOptimize(spark, sf).collect()
    assert(a.nonEmpty)
    assert(a.forall(_.getAs[Int]("folded_ok") == 1))
    assert(a.forall(_.getAs[Int]("carried_ok") == 1))
    val b = rows(SnapOps.q133SnapOptimize(spark, sf))
    assert(a.map(_.mkString("|")).toSet == b)
  }

  test("additive schema evolution: metadata-only commit, null-filled " +
      "narrow files, per-version schemas for time travel, clashes refused") {
    val loc = tmpLoc("evo")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val v1 = Snap.head(spark, loc).get
    assert(Snap.addColumns(spark, loc, "c_tier STRING") == 2)
    val v2 = Snap.head(spark, loc).get
    // metadata-only: SAME files, widened schema
    assert(v2.files == v1.files)
    assert(v2.schema.fieldNames.contains("c_tier"))
    // narrow files null-fill under the widened schema
    val widened = Snap.read(spark, loc)
    assert(widened.columns.contains("c_tier"))
    assert(widened.filter(col("c_tier").isNotNull).count() == 0)
    assert(widened.count() == 150)
    // the pre-evolve snapshot still reads narrow
    assert(!Snap.read(spark, loc, asOf = Some(1)).columns.contains("c_tier"))
    // a post-evolve merge writes wide files; carried files stay narrow
    val backfill = cust.filter(col("c_custkey") < 10)
      .withColumn("c_tier", lit("gold")).withColumn("_deleted", lit(false))
    assert(Snap.merge(spark, loc, backfill) == 3)
    val after = Snap.read(spark, loc)
    assert(after.filter(col("c_tier") === "gold").count() == 10)
    assert(after.filter(col("c_tier").isNull).count() == 140)
    // a delta MISSING the evolved column refuses (head schema governs)
    intercept[IllegalArgumentException] {
      Snap.merge(spark, loc, cust.filter(col("c_custkey") === 20)
        .withColumn("_deleted", lit(false)))
    }
    // a MISTYPED evolved column refuses BEFORE commit — unionByName
    // would otherwise widen double+string to string, landing files the
    // manifest's schema contradicts (unreadable committed version)
    intercept[IllegalArgumentException] {
      Snap.merge(spark, loc, cust.filter(col("c_custkey") === 20)
        .withColumn("c_tier", lit(7.5))
        .withColumn("_deleted", lit(false)))
    }
    // clashing / case-variant / intra-DDL-duplicate additions refuse
    // (Spark analysis is case-insensitive: a C_TIER twin would make
    // every explicit-schema read of the new head throw, permanently)
    intercept[IllegalArgumentException] {
      Snap.addColumns(spark, loc, "c_tier DOUBLE")
    }
    intercept[IllegalArgumentException] {
      Snap.addColumns(spark, loc, "C_TIER INT")
    }
    intercept[IllegalArgumentException] {
      Snap.addColumns(spark, loc, "x INT, X STRING")
    }
  }

  test("q134 evolution lifecycle is replay-stable with its audit " +
      "indicators green off the oracle's sf") {
    val a = SnapOps.q134SnapEvolve(spark, sf).collect()
    assert(a.nonEmpty)
    for (c <- Seq("evolve_metadata_only", "narrow_files_carried",
        "time_travel_narrow"))
      assert(a.forall(_.getAs[Int](c) == 1), s"$c not green")
    assert(a.map(_.mkString("|")).toSet ==
      rows(SnapOps.q134SnapEvolve(spark, sf)))
  }

  test("SCD2 over composite keys: one current row per key, a closed " +
      "chain, and bucket-sparse COW for the change batches") {
    val loc = SnapOps.ensureScd(spark, sf)
    val h = Snap.read(spark, loc)
    // exactly one current version per key, at every key
    assert(h.groupBy(col("h_custkey"))
      .agg(sum(col("h_current")).as("cur"))
      .filter(col("cur") =!= 1).count() == 0)
    // every closed row's h_to is the h_from of that key's next version
    val closed = h.filter(col("h_current") === 0)
      .select(col("h_custkey"), col("h_to"))
    val opens = h.select(col("h_custkey"), col("h_from").as("h_to"))
    assert(closed.exceptAll(opens).count() == 0,
      "a close row points at a version that does not exist")
    // change batches were bucket-sparse: v2 carried 3 of v1's 4 files
    val v1 = Snap.atVersion(spark, loc, 1)
    val v2 = Snap.atVersion(spark, loc, 2)
    assert(v2.files.map(_.path).toSet
      .intersect(v1.files.map(_.path).toSet).size == 3)
    // replay-stable face
    val a = SnapOps.q135SnapScd2(spark, sf).collect().map(_.mkString("|")).toSet
    assert(a == SnapOps.q135SnapScd2(spark, sf)
      .collect().map(_.mkString("|")).toSet && a.size == 3)
  }

  test("mergeStreaming: a replayed or stale batch id is a no-op; the " +
      "applied high-water commits atomically with the rows") {
    val loc = tmpLoc("cdc")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    def d(k: Int) = cust
      .filter(col("c_custkey") >= k * 10 && col("c_custkey") < k * 10 + 10)
      .withColumn("c_acctbal", col("c_acctbal") + lit((k + 1).toDouble))
      .withColumn("_deleted", lit(false))
    assert(Snap.mergeStreaming(spark, loc, d(0), batchId = 0) == 2)
    assert(Snap.head(spark, loc).get.applied == 0L)
    val afterB0 = rows(Snap.read(spark, loc))
    // the replay window: same batch id again — version AND content hold
    assert(Snap.mergeStreaming(spark, loc, d(0), batchId = 0) == 2)
    assert(Snap.head(spark, loc).get.version == 2)
    assert(rows(Snap.read(spark, loc)) == afterB0)
    assert(Snap.mergeStreaming(spark, loc, d(1), batchId = 1) == 3)
    assert(Snap.head(spark, loc).get.applied == 1L)
    // a STALE id after later batches applied — still a no-op
    assert(Snap.mergeStreaming(spark, loc, d(0), batchId = 0) == 3)
    assert(Snap.head(spark, loc).get.version == 3)
    // batch merges carry the high-water forward untouched
    Snap.merge(spark, loc, d(2))
    assert(Snap.head(spark, loc).get.applied == 1L)
  }

  test("cdcSink end-to-end: file-stream deltas apply exactly once; a " +
      "re-run over the same checkpoint drains nothing; a foreign " +
      "checkpoint is refused") {
    val loc = tmpLoc("cdcsink")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val root = Files.createTempDirectory("snapcdc_spec")
    val src = root.resolve("src"); Files.createDirectories(src)
    def d(k: Int) = cust
      .filter(col("c_custkey") >= k * 10 && col("c_custkey") < k * 10 + 10)
      .withColumn("c_acctbal", col("c_acctbal") + lit((k + 1).toDouble))
      .withColumn("_deleted", lit(false))
    (0 until 3).foreach { k =>
      val tmp = root.resolve(s"tmp$k")
      d(k).coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      Files.move(part, src.resolve(f"d$k%02d.parquet"))
    }
    val ckpt = root.resolve("ckpt").toString
    def run(): Unit = {
      val in = spark.readStream.schema(d(0).schema)
        .option("maxFilesPerTrigger", 1).parquet(src.toString)
      val q = graft.streaming.SnapCdc.cdcSink(in, loc.toString, ckpt,
        trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      try assert(q.awaitTermination(120000L), "cdc stream timed out")
      finally q.stop()
    }
    run()
    val expected = (0 until 3).foldLeft(cust) { (cur, k) =>
      cur.withColumn("c_acctbal",
        when(col("c_custkey") >= k * 10 && col("c_custkey") < k * 10 + 10,
          col("c_acctbal") + (k + 1).toDouble).otherwise(col("c_acctbal")))
    }
    assert(rows(Snap.read(spark, loc)) == rows(expected))
    val h = Snap.head(spark, loc).get
    assert(h.version == 4 && h.applied == 2L)
    // same checkpoint, no new files: nothing drains, nothing re-applies
    run()
    assert(Snap.head(spark, loc).get.version == 4)
    assert(rows(Snap.read(spark, loc)) == rows(expected))
    // a FRESH checkpoint restarts batch ids at 0 and would alias the
    // applied ones — the lineage stamp (the checkpoint's QUERY ID, so
    // even a recreated checkpoint at the SAME path is foreign) fails
    // the query on its first batch, before anything applies
    val foreign = graft.streaming.SnapCdc.cdcSink(
      spark.readStream.schema(d(0).schema)
        .option("maxFilesPerTrigger", 1).parquet(src.toString),
      loc.toString, root.resolve("ckpt2").toString,
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      foreign.awaitTermination(120000L)
    }
    assert(failed.getMessage.contains("lineage") ||
      Option(failed.getCause).exists(_.getMessage.contains("lineage")),
      s"wrong failure: ${failed.getMessage.take(200)}")
    // and nothing applied through the foreign stream
    assert(Snap.head(spark, loc).get.version == 4)
    assert(rows(Snap.read(spark, loc)) == rows(expected))
  }

  test("cdcSink(mor): the trickle-CDC form — every micro-batch commits " +
      "ONLY its delta file (base untouched across the whole stream), " +
      "exactly-once on replay, content identical to the COW sink's") {
    val loc = tmpLoc("morsink")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val v1 = Snap.head(spark, loc).get
    val root = Files.createTempDirectory("snapmor_spec")
    val src = root.resolve("src"); Files.createDirectories(src)
    def d(k: Int) = cust
      .filter(col("c_custkey") >= k * 10 && col("c_custkey") < k * 10 + 10)
      .withColumn("c_acctbal", col("c_acctbal") + lit((k + 1).toDouble))
      .withColumn("_deleted", lit(false))
    (0 until 3).foreach { k =>
      val tmp = root.resolve(s"tmp$k")
      d(k).coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      Files.move(part, src.resolve(f"d$k%02d.parquet"))
    }
    val ckpt = root.resolve("ckpt").toString
    def run(): Unit = {
      val in = spark.readStream.schema(d(0).schema)
        .option("maxFilesPerTrigger", 1).parquet(src.toString)
      val q = graft.streaming.SnapCdc.cdcSink(in, loc.toString, ckpt,
        trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
        mor = true)
      try assert(q.awaitTermination(120000L), "mor cdc stream timed out")
      finally q.stop()
    }
    run()
    val expected = (0 until 3).foldLeft(cust) { (cur, k) =>
      cur.withColumn("c_acctbal",
        when(col("c_custkey") >= k * 10 && col("c_custkey") < k * 10 + 10,
          col("c_acctbal") + (k + 1).toDouble).otherwise(col("c_acctbal")))
    }
    assert(rows(Snap.read(spark, loc)) == rows(expected))
    val h = Snap.head(spark, loc).get
    assert(h.version == 4 && h.applied == 2L)
    // the write-amplification pin, stream form: THREE commits, ZERO
    // base rewrites — the create's files are byte-identical and each
    // batch landed exactly one delta file
    assert(h.files.map(_.path) == v1.files.map(_.path),
      "a MOR micro-batch rewrote a base file")
    assert(h.deltas.size == 3 && h.deltas.forall(_.rows == 10L))
    // replay: same checkpoint, no new files — nothing re-applies
    run()
    assert(Snap.head(spark, loc).get.version == 4)
    assert(rows(Snap.read(spark, loc)) == rows(expected))
    // the fold retires the stream's deltas without changing content
    Snap.optimize(spark, loc, minFilesPerBucket = 2)
    assert(Snap.head(spark, loc).get.deltas.isEmpty)
    assert(rows(Snap.read(spark, loc)) == rows(expected))
  }

  test("autoVacuum: retention rides the write path — versions stay " +
      "bounded across a long merge sequence, the head and recent time " +
      "travel keep serving, swept files are gone, replay guard intact") {
    val loc = tmpLoc("autovac")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    def d(k: Int) = cust
      .filter(col("c_custkey") >= (k % 10) * 10 &&
        col("c_custkey") < (k % 10) * 10 + 10)
      .withColumn("c_acctbal", col("c_acctbal") + lit(k.toDouble))
      .withColumn("_deleted", lit(false))
    val fs = Published.fsOf(loc)
    (1 to 8).foreach { k =>
      Snap.mergeStreaming(spark, loc, d(k), batchId = k.toLong,
        autoVacuum = 3)
      // the bound holds AFTER EVERY commit, not just at the end
      val manifests = fs.listStatus(loc)
        .count(_.getPath.getName.startsWith("manifest-v"))
      assert(manifests <= 3, s"retention leak: $manifests manifests at k=$k")
    }
    val h = Snap.head(spark, loc).get
    assert(h.version == 9 && h.applied == 8L)
    // recent time travel serves; past the horizon is loud
    assert(rows(Snap.read(spark, loc, asOf = Some(8))).nonEmpty)
    intercept[RuntimeException] { Snap.atVersion(spark, loc, 5) }
    // swept versions' exclusive files are really gone: only live files
    // remain in data/
    val live = (7 to 9).flatMap(v =>
      Snap.atVersion(spark, loc, v).files.map(_.path)).toSet
    val onDisk = fs.listStatus(new HPath(loc, "data"))
      .map("data/" + _.getPath.getName).toSet
    assert(onDisk == live, s"debris: ${(onDisk -- live).mkString(",")}")
    // the replay guard still rides the (kept) head
    assert(Snap.mergeStreaming(spark, loc, d(3), batchId = 3L,
      autoVacuum = 3) == 9, "a stale batch replayed after vacuum")
    // and the changelog over the retained window still reads
    assert(Snap.changes(spark, loc, 7, 9).count() > 0)
  }

  test("fuzz: 15 seeded random deltas ROTATING serialized, optimistic, " +
      "and merge-on-read merges (optimize interleaved) track a driver-" +
      "side reference exactly at every version, and every step's " +
      "changelog reproduces the delta's effect key-for-key") {
    val rnd = new scala.util.Random(0xC0FFEE)
    val loc = tmpLoc("fuzz")
    import spark.implicits._
    // reference state lives driver-side: key -> value (quarters — every
    // double here is exactly representable, so DF round-trips bit-equal)
    var ref: Map[Long, Double] =
      (0L until 200L).map(k => k -> k / 4.0).toMap
    def refDf = ref.toSeq.toDF("k", "v")
    Snap.create(spark, loc, refDf, Seq("k"), "k", 8,
      layout = "range", tag = "fuzz")
    var version = 1
    (1 to 15).foreach { step =>
      // ~30 random keys over [0, 400): updates, deletes (sometimes of
      // ABSENT keys — must no-op), inserts past the create-time range
      // (clamped to the top bucket)
      val keys = Seq.fill(30)(rnd.nextInt(400).toLong).distinct
      val ops = keys.map { k =>
        val die = rnd.nextInt(4)
        if (die == 0) (k, 0.0, true) // delete (absent-key deletes included)
        else (k, rnd.nextInt(4000) / 4.0, false)
      }
      val before = ref
      ops.foreach { case (k, v, del) =>
        ref = if (del) ref - k else ref + (k -> v)
      }
      val delta = ops.toDF("k", "v", "_deleted")
      version = (step % 3) match {
        case 0 => Snap.mergeOcc(spark, loc, delta)
        case 1 => Snap.merge(spark, loc, delta)
        case _ => Snap.mergeMor(spark, loc, delta)
      }
      assert(rows(Snap.read(spark, loc)) == rows(refDf),
        s"state diverged from the reference at step $step (v$version)")
      // the step's changelog must BE the before→after key diff
      val ch = Snap.changes(spark, loc, version - 1, version).collect()
        .map(r => r.getAs[Long]("k") ->
          (r.getAs[String]("_change_type"), r.getAs[Double]("v"))).toMap
      val expIns = (ref.keySet -- before.keySet).map(k =>
        k -> (("insert", ref(k))))
      val expDel = (before.keySet -- ref.keySet).map(k =>
        k -> (("delete", before(k)))) // pre-image value
      val expUpd = (ref.keySet & before.keySet)
        .filter(k => ref(k) != before(k))
        .map(k => k -> (("update", ref(k))))
      assert(ch == (expIns ++ expDel ++ expUpd).toMap,
        s"changelog diverged at step $step")
      if (step % 4 == 0) {
        // a fold mid-sequence: content-neutral, changelog-invisible
        val v2 = Snap.optimize(spark, loc, minFilesPerBucket = 2)
        if (v2 != version) {
          assert(Snap.changes(spark, loc, version, v2).count() == 0)
          version = v2
        }
        assert(rows(Snap.read(spark, loc)) == rows(refDf),
          s"optimize changed content at step $step")
      }
    }
  }

  // -------------------------------- zorder layout + multi-column stats
  test("zorder layout: BOTH key dimensions prune to strict file subsets " +
      "with exact answers; merges stay row-exact and keep the tile stats") {
    val loc = tmpLoc("zorder")
    val ord = Tables.orders(spark, sf) // o_orderkey 0..1499
    Snap.create(spark, loc, ord, Seq("o_orderkey", "o_custkey"),
      "o_orderkey", 16, layout = "zorder", tag = "t", zorderBy = "o_custkey")
    val m = Snap.head(spark, loc).get
    assert(m.layout == "zorder" && m.z2 == "o_custkey")
    // every file carries tile stats for the second dimension
    assert(m.files.forall(_.extra.contains("o_custkey")))
    def checkDim(c: String, lo: Long, hi: Long): Unit = {
      val (df, planned, total) = Snap.prunedScanBy(spark, loc, c, lo, hi)
      assert(planned > 0 && planned < total,
        s"$c [$lo,$hi] planned $planned of $total — no tile pruning")
      // the PLAN scans exactly the chosen subset — pruning is real file
      // skipping, not a post-filter over a full scan
      assert(df.inputFiles.length == planned,
        s"$c: plan scans ${df.inputFiles.length} files, manifest chose $planned")
      assert(rows(df) ==
        rows(Snap.read(spark, loc).filter(col(c) >= lo && col(c) <= hi)))
    }
    val kMax = m.rangeMax
    val cMax = m.z2Max
    checkDim("o_orderkey", kMax / 4, kMax / 2)
    checkDim("o_custkey", cMax / 4, cMax / 2)
    // a merge through the zorder bucketing: row-exact, stats preserved
    val delta = ord.filter(col("o_orderkey") < 50)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      .withColumn("_deleted", lit(false))
    assert(Snap.merge(spark, loc, delta) == 2)
    val expected = ord.withColumn("o_totalprice",
      when(col("o_orderkey") < 50, col("o_totalprice") + 1.0)
        .otherwise(col("o_totalprice")))
    assert(rows(Snap.read(spark, loc)) == rows(expected))
    assert(Snap.head(spark, loc).get.files.forall(_.extra.contains("o_custkey")),
      "a merge dropped the tile stats")
    checkDim("o_custkey", cMax / 4, cMax / 2)
    // zorder guards: a non-key second dimension refuses (a VALUE dim
    // would move a key's bucket when the value changes)
    intercept[IllegalArgumentException] {
      Snap.create(spark, tmpLoc("zbad"), ord,
        Seq("o_orderkey"), "o_orderkey", 16, layout = "zorder",
        tag = "t", zorderBy = "o_totalprice")
    }
    // the follower mirrors the whole layout config — following a zorder
    // source must reproduce its dimensions, not refuse or degrade
    val dst = tmpLoc("zfollow")
    graft.streaming.SnapFollow.ensureDst(spark, loc, dst)
    val dm = Snap.head(spark, dst).get
    assert(dm.layout == "zorder" && dm.z2 == "o_custkey")
    assert(rows(Snap.read(spark, dst)) == rows(Snap.read(spark, loc)))
  }

  test("declared stats columns: correlated secondaries prune, all-null " +
      "stats read as unknown (kept, never guessed); retention audit " +
      "predicts exactly what vacuum reclaims") {
    val loc = tmpLoc("stats")
    import spark.implicits._
    val df = spark.range(0, 1000).toDF("k")
      .withColumn("v", col("k") * 2)
      .withColumn("w", lit(null).cast("long"))
    Snap.create(spark, loc, df, Seq("k"), "k", 8, layout = "range",
      tag = "t", statsCols = Seq("v", "w"))
    // v correlates with k: its ranges prune like the primary's
    val (pv, planned, total) = Snap.prunedScanBy(spark, loc, "v", 100L, 300L)
    assert(planned > 0 && planned < total)
    assert(rows(pv) == rows(Snap.read(spark, loc)
      .filter(col("v") >= 100 && col("v") <= 300)))
    // w is all-null: no recorded range -> every file kept, none skipped
    val h = Snap.head(spark, loc).get
    assert(h.files.forall(f => !f.extra.contains("w")))
    val (_, wPlanned, wTotal) = Snap.prunedScanBy(spark, loc, "w", 0L, 1L)
    assert(wPlanned == wTotal, "pruned on a guess for an unknown column")
    // an undeclared column refuses
    intercept[IllegalArgumentException] {
      Snap.prunedScanBy(spark, loc, "k2", 0L, 1L)
    }
    // retention audit == vacuum's subsequent reclaim, byte-for-byte
    val d2 = df.filter(col("k") < 100)
      .withColumn("v", col("v") + lit(1L))
      .withColumn("_deleted", lit(false))
    Snap.merge(spark, loc, d2)
    val aud = Snap.retention(spark, loc, keepVersions = 1).head
    assert(aud.getAs[Long]("versions_total") == 2 &&
      aud.getAs[Long]("versions_kept") == 1 &&
      aud.getAs[Long]("oldest_readable_version") == 2)
    assert(aud.getAs[Long]("bytes_reclaimable") > 0)
    val (mSwept, dSwept, _) = Snap.vacuum(spark, loc, keepVersions = 1)
    assert(mSwept == aud.getAs[Long]("manifests_reclaimable") &&
      dSwept == aud.getAs[Long]("files_reclaimable"),
      s"audit predicted ($mSwept, $dSwept) wrong")
    // post-vacuum: nothing left to reclaim
    val after = Snap.retention(spark, loc, keepVersions = 1).head
    assert(after.getAs[Long]("files_reclaimable") == 0 &&
      after.getAs[Long]("bytes_reclaimable") == 0)
  }

  // --------------------------------------------- rename/drop evolution
  test("rename/drop evolution: metadata-only commits, physical-name " +
      "stability across later merges, time travel to old shapes, retired " +
      "slots refused, key renames follow references, changelog aligns " +
      "across the renames") {
    val loc = tmpLoc("renames")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val v1 = Snap.head(spark, loc).get
    // rename: METADATA-ONLY — same files, new logical name
    assert(Snap.renameColumn(spark, loc, "c_mktsegment", "c_segment") == 2)
    val v2 = Snap.head(spark, loc).get
    assert(v2.files == v1.files && v2.op == "evolve")
    assert(rows(Snap.read(spark, loc)) ==
      rows(cust.withColumnRenamed("c_mktsegment", "c_segment")))
    // drop: METADATA-ONLY — same files, shrunk schema, slot retired
    assert(Snap.dropColumn(spark, loc, "c_name") == 3)
    val v3 = Snap.head(spark, loc).get
    assert(v3.files == v1.files && v3.retired == Seq("c_name"))
    assert(rows(Snap.read(spark, loc)) ==
      rows(cust.drop("c_name").withColumnRenamed("c_mktsegment", "c_segment")))
    // a merge under the evolved schema: delta speaks the NEW names;
    // the file bytes land under the STABLE physical name
    val backfill = cust.filter(col("c_custkey") < 10)
      .select(col("c_custkey"), col("c_nationkey"),
        (col("c_acctbal") + lit(5.0)).as("c_acctbal"),
        lit("EVOLVED").as("c_segment"))
      .withColumn("_deleted", lit(false))
    assert(Snap.merge(spark, loc, backfill) == 4)
    val v4 = Snap.head(spark, loc).get
    val newFiles = v4.files.filterNot(f => v1.files.map(_.path).contains(f.path))
    assert(newFiles.nonEmpty)
    val fs = Published.fsOf(loc)
    val rawCols = spark.read.parquet(
      fs.makeQualified(new HPath(loc, newFiles.head.path)).toString).columns
    assert(rawCols.contains("c_mktsegment") && !rawCols.contains("c_segment"),
      s"bytes must land under the PHYSICAL name, saw ${rawCols.mkString(",")}")
    assert(Snap.read(spark, loc).filter(col("c_segment") === "EVOLVED")
      .count() == 10)
    // time travel: pre-evolution versions read their own shape
    val old = Snap.read(spark, loc, asOf = Some(1))
    assert(old.columns.contains("c_mktsegment") && old.columns.contains("c_name"))
    assert(rows(old) == rows(cust))
    // key rename follows keyCols/bucketCol; merges keep working
    assert(Snap.renameColumn(spark, loc, "c_custkey", "c_id") == 5)
    val v5 = Snap.head(spark, loc).get
    assert(v5.keyCols == Seq("c_id") && v5.bucketCol == "c_id" &&
      v5.keyKind == "long")
    val d6 = cust.filter(col("c_custkey") >= 20 && col("c_custkey") < 23)
      .select(col("c_custkey").as("c_id"), col("c_nationkey"),
        (col("c_acctbal") + lit(1.0)).as("c_acctbal"),
        lit("K").as("c_segment"))
      .withColumn("_deleted", lit(false))
    assert(Snap.merge(spark, loc, d6) == 6)
    assert(Snap.read(spark, loc).filter(col("c_segment") === "K").count() == 3)
    // guards: retired slot, occupied physical slot (renamed-away name),
    // case-insensitive rename clash, key drop
    intercept[IllegalArgumentException] {
      Snap.addColumns(spark, loc, "c_name STRING") // retired slot
    }
    intercept[IllegalArgumentException] {
      Snap.addColumns(spark, loc, "c_mktsegment STRING") // c_segment's physical
    }
    intercept[IllegalArgumentException] {
      Snap.renameColumn(spark, loc, "c_acctbal", "C_Segment")
    }
    intercept[IllegalArgumentException] {
      Snap.dropColumn(spark, loc, "c_id")
    }
    // changelog across both renames and the drop: update rows from the
    // pre-rename step align under the TARGET's logical names by
    // physical identity — no column lost, no null bleed
    val ch = Snap.changes(spark, loc, 1, 6)
    assert(ch.columns.contains("c_id") && ch.columns.contains("c_segment"))
    val byType = ch.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update" -> 13L), s"got $byType")
    assert(ch.filter(col("_commit_version") === 4 &&
      col("c_segment") === "EVOLVED").count() == 10)
    assert(ch.filter(col("c_id").isNull).count() == 0)
  }

  test("q138/q139 faces are replay-stable off the oracle's sf: zorder " +
      "prunes on both dims, retention counts hold") {
    val a = SnapOps.q138SnapZorder(spark, sf).collect()
    assert(a.length == 2 && a.forall(_.getAs[Int]("files_skipped_ok") == 1),
      s"zorder face: ${a.mkString(";")}")
    assert(a.map(_.mkString("|")).toSet ==
      rows(SnapOps.q138SnapZorder(spark, sf)))
    val b = SnapOps.q139SnapRetention(spark, sf).collect()
    assert(b.length == 1)
    val r = b.head
    assert(r.getAs[Int]("versions_total") == 3 &&
      r.getAs[Int]("files_reclaimable") == 2 &&
      r.getAs[Int]("bytes_reclaimable_pos") == 1, s"retention face: $r")
  }

  test("q140 OCC-built lifecycle face: protocol audit green (no spurious " +
      "rebase/retry uncontended), replay-stable, and content-identical " +
      "to the serialized lifecycle's head") {
    val a = SnapOps.q140SnapOcc(spark, sf).collect()
    assert(a.nonEmpty && a.forall(_.getAs[Int]("occ_protocol_ok") == 1) &&
      a.forall(_.getAs[Int]("occ_cow_ok") == 1), s"got ${a.mkString(";")}")
    assert(a.map(_.mkString("|")).toSet == rows(SnapOps.q140SnapOcc(spark, sf)))
    // the OCC path's head equals the serialized path's v3 row set —
    // same deltas through a different commit protocol
    val occLoc = SnapOps.ensureOcc(spark, sf)
    val serLoc = SnapOps.ensureCust(spark, sf)
    assert(rows(Snap.read(spark, occLoc)) ==
      rows(Snap.read(spark, serLoc, asOf = Some(3))))
  }

  test("q136/q137 lifecycle faces are replay-stable with their audit " +
      "indicators green off the oracle's sf") {
    val a = SnapOps.q136SnapChangelog(spark, sf).collect()
    assert(a.nonEmpty && a.forall(_.getAs[Int]("delta_scan_ok") == 1))
    assert(a.map(_.mkString("|")).toSet ==
      rows(SnapOps.q136SnapChangelog(spark, sf)))
    val b = SnapOps.q137SnapRenameDrop(spark, sf).collect()
    assert(b.nonEmpty)
    for (c <- Seq("rename_metadata_only", "drop_metadata_only",
        "mapping_ok", "time_travel_old_shape"))
      assert(b.forall(_.getAs[Int](c) == 1), s"$c not green")
    assert(b.map(_.mkString("|")).toSet ==
      rows(SnapOps.q137SnapRenameDrop(spark, sf)))
  }

  // ------------------------------------------------- changelog / CDF
  test("changes(): exact insert/update/delete classification, post-images " +
      "for upserts, pre-images for deletes, survivors absent, and the plan " +
      "reads ONLY removed+added files — never a carried one") {
    val loc = tmpLoc("cdf")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    Snap.merge(spark, loc, smallDelta) // v2
    val del2 = cust.filter(col("c_custkey") < 2)
      .select((col("c_custkey") + 1000L).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .withColumn("_deleted", lit(true))
    Snap.merge(spark, loc, del2) // v3: deletes the two inserts
    val ch12 = Snap.changes(spark, loc, 1, 2)
    val byType = ch12.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 2L, "update" -> 10L, "delete" -> 10L),
      s"got $byType")
    // inserts carry the post-image (9.99), deletes the PRE-image
    // (original balances), updates the post-image (+1000)
    assert(ch12.filter(col("_change_type") === "insert")
      .collect().forall(_.getAs[Double]("c_acctbal") == 9.99))
    val origBal = cust.filter(col("c_custkey") === 80).head.getAs[Double]("c_acctbal")
    assert(ch12.filter(col("_change_type") === "delete" &&
      col("c_custkey") === 80).head.getAs[Double]("c_acctbal") == origBal)
    val upd0 = ch12.filter(col("_change_type") === "update" &&
      col("c_custkey") === 0).head
    assert(upd0.getAs[Double]("c_acctbal") ==
      cust.filter(col("c_custkey") === 0).head.getAs[Double]("c_acctbal") + 1000.0)
    // v2 -> v3: just the two insert-rows deleted, pre-image 9.99
    val ch23 = Snap.changes(spark, loc, 2, 3).collect()
    assert(ch23.length == 2 &&
      ch23.forall(r => r.getAs[String]("_change_type") == "delete" &&
        r.getAs[Double]("c_acctbal") == 9.99))
    // the O(delta) pin: the whole-range changelog plan reads ONLY files
    // some commit in the range removed or added
    val ms = (1 to 3).map(v => Snap.atVersion(spark, loc, v))
    val fs = Published.fsOf(loc)
    val deltaFiles = (1 until 3).flatMap { i =>
      val p = ms(i - 1).files.map(_.path).toSet
      val c = ms(i).files.map(_.path).toSet
      (p diff c) ++ (c diff p)
    }.map(p => fs.makeQualified(new HPath(loc, p)).toUri.getPath).toSet
    val ch13 = Snap.changes(spark, loc, 1, 3)
    val scanned = ch13.inputFiles.map(new HPath(_).toUri.getPath)
    assert(scanned.nonEmpty && scanned.forall(deltaFiles),
      s"changelog read a carried file: " +
        scanned.filterNot(deltaFiles).mkString(","))
    // and the union over the range matches the per-step reads
    assert(ch13.count() == 22 + 2)
    // plan shape: the per-step key joins never degrade to a cartesian
    assert(ch13.queryExecution.executedPlan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, "changelog planned a cartesian product")
  }

  test("changes(): optimize and evolve commits are skipped without " +
      "opening a file; output conforms to the target version's schema") {
    val loc = tmpLoc("cdfneutral")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    def ins(k: Int) = cust.filter(col("c_custkey") < 3)
      .select((col("c_custkey") + lit(k * 1000L)).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
      .withColumn("_deleted", lit(false))
    Snap.merge(spark, loc, ins(1)) // v2
    Snap.merge(spark, loc, ins(2)) // v3
    assert(Snap.optimize(spark, loc, minFilesPerBucket = 2) == 4)
    assert(Snap.addColumns(spark, loc, "c_tier STRING") == 5)
    // the fold rewrote bucket 3 and the evolve touched nothing — the
    // changelog across both must surface ONLY the six inserts, under
    // the WIDENED target schema (null c_tier), reading zero fold bytes
    val ch = Snap.changes(spark, loc, 1, 5)
    assert(ch.columns.contains("c_tier"))
    val rows5 = ch.collect()
    assert(rows5.length == 6 &&
      rows5.forall(r => r.getAs[String]("_change_type") == "insert" &&
        r.getAs[String]("c_tier") == null))
    // the optimize's folded OUTPUT file is not in the plan
    val v4 = Snap.atVersion(spark, loc, 4)
    val v3 = Snap.atVersion(spark, loc, 3)
    val foldOut = v4.files.map(_.path).toSet.diff(v3.files.map(_.path).toSet)
    val fs = Published.fsOf(loc)
    assert(foldOut.nonEmpty, "the fold wrote nothing (vacuous)")
    val foldAbs = foldOut.map(p =>
      fs.makeQualified(new HPath(loc, p)).toUri.getPath)
    assert(!ch.inputFiles.map(new HPath(_).toUri.getPath).exists(foldAbs),
      "the changelog read fold output")
    // an empty step range is an empty, correctly-shaped frame
    assert(Snap.changes(spark, loc, 4, 5).count() == 0)
  }

  // ------------------------------------------------ follower pipeline
  test("SnapFollow: the destination manifest IS the offset ledger — " +
      "polls exactly-once, replays no-op, catch-up collapses latest-wins " +
      "(update-then-delete = one delete; insert-then-delete = nothing), " +
      "and a live follow() stream converges on new commits") {
    val root = Files.createTempDirectory("follow")
    val src = new HPath(s"$root/src")
    val dst = new HPath(s"$root/dst")
    Snap.create(spark, src, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    Snap.merge(spark, src, smallDelta) // v2
    graft.streaming.SnapFollow.ensureDst(spark, src, dst)
    assert(rows(Snap.read(spark, dst)) == rows(expectedAfterSmallDelta))
    assert(Snap.head(spark, dst).get.applied == 2L, "cursor not pre-seeded")
    // bind the lineage, then: no news -> poll is a no-op
    graft.streaming.SnapFollow.assertOrStamp(spark, src, dst)
    assert(graft.streaming.SnapFollow.pollOnce(spark, src, dst) == 2L)
    assert(Snap.head(spark, dst).get.version == 1, "an empty poll committed")
    // src advances twice; ONE poll must collapse the backlog per key
    val v3d = cust.filter(col("c_custkey") >= 20 && col("c_custkey") < 25)
      .withColumn("c_acctbal", col("c_acctbal") + lit(50.0))
      .withColumn("_deleted", lit(false))
      .unionByName(cust.filter(col("c_custkey") === 0)
        .select((col("c_custkey") + 3000L).as("c_custkey"), col("c_name"),
          col("c_nationkey"), lit(1.0).as("c_acctbal"),
          lit("TMP").as("c_mktsegment"))
        .withColumn("_deleted", lit(false)))
    Snap.merge(spark, src, v3d) // v3: upd 20-24, insert 3000
    val v4d = cust.filter(col("c_custkey") >= 22 && col("c_custkey") < 24)
      .withColumn("_deleted", lit(true))
      .unionByName(cust.filter(col("c_custkey") === 0)
        .select((col("c_custkey") + 3000L).as("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
        .withColumn("_deleted", lit(true)))
    Snap.merge(spark, src, v4d) // v4: delete 22,23 and the 3000 insert
    assert(graft.streaming.SnapFollow.pollOnce(spark, src, dst) == 4L)
    val dh = Snap.head(spark, dst).get
    assert(dh.applied == 4L && dh.version == 2,
      s"catch-up must be ONE merge: v=${dh.version} applied=${dh.applied}")
    assert(rows(Snap.read(spark, dst)) == rows(Snap.read(spark, src)))
    assert(Snap.read(spark, dst).filter(col("c_custkey") === 3000L).count() == 0,
      "an insert-then-delete backlog pair must collapse to nothing")
    // replayed poll: cursor high-water no-ops it
    assert(graft.streaming.SnapFollow.pollOnce(spark, src, dst) == 4L)
    assert(Snap.head(spark, dst).get.version == 2)
    // a foreign source refuses against the stamped lineage
    val src2 = new HPath(s"$root/src2")
    Snap.create(spark, src2, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    intercept[IllegalArgumentException] {
      graft.streaming.SnapFollow.assertOrStamp(spark, src2, dst)
    }
    // live stream: new src commits converge into dst through the ticks
    val q = graft.streaming.SnapFollow.follow(spark, src.toString,
      dst.toString, s"$root/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))
    try {
      Snap.merge(spark, src, cust.filter(col("c_custkey") < 5)
        .withColumn("c_acctbal", col("c_acctbal") + lit(9.0))
        .withColumn("_deleted", lit(false))) // v5
      val deadline = System.currentTimeMillis() + 90000L
      while (Snap.head(spark, dst).get.applied < 5L &&
          System.currentTimeMillis() < deadline) Thread.sleep(250L)
      assert(Snap.head(spark, dst).get.applied == 5L,
        "the follower stream never caught up")
      assert(rows(Snap.read(spark, dst)) == rows(Snap.read(spark, src)))
    } finally q.stop()
    // a RECREATED source at the same path is a new lineage: its tag
    // rides the identity, so the stamp check refuses — and a bare poll
    // trips the cursor-regression guard (new head < old cursor) loudly
    Snap.drop(spark, src)
    Snap.create(spark, src, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t2")
    intercept[IllegalArgumentException] {
      graft.streaming.SnapFollow.assertOrStamp(spark, src, dst)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.SnapFollow.pollOnce(spark, src, dst)
    }
  }

  // ------------------------------------------------ optimistic commits
  // The conflict matrix: a rival commit landing between an optimistic
  // writer's (leaseless) stage and its commit point, one case per
  // protocol outcome. The rival runs from the occStageHold hook — the
  // exact moment the race window is open — one-shot-guarded because
  // the rival's own staging fires the same hook.
  private def withRival(body: => Unit)(run: => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    graft.sources.Snap.occStageHold =
      () => if (fired.compareAndSet(false, true)) body
    try run
    finally graft.sources.Snap.occStageHold = () => ()
    assert(fired.get(), "the rival hook never fired (vacuous race)")
  }

  private def traced(run: => Unit): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.sources.Snap.occTrace = s => buf.synchronized { buf += s; () }
    try run finally graft.sources.Snap.occTrace = _ => ()
    buf.toSeq
  }

  test("mergeOcc, no contention: commits like merge, base == parent") {
    val loc = tmpLoc("occ0")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    assert(Snap.mergeOcc(spark, loc, smallDelta) == 2)
    val v2 = Snap.head(spark, loc).get
    assert(v2.op == "merge" && v2.parent == 1 && v2.resolvedBase == 1)
    assert(rows(Snap.read(spark, loc)) == rows(expectedAfterSmallDelta))
  }

  test("mergeOcc vs disjoint rival: REBASE — carries the rival's files, " +
      "commits on its head without restaging, base < parent audits it") {
    val loc = tmpLoc("occ_dj")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    // rival touches only bucket 1 (keys 38..74); smallDelta touches
    // buckets 0, 2 and inserts into 3 — file sets disjoint
    val rival = cust.filter(col("c_custkey") >= 40 && col("c_custkey") < 50)
      .withColumn("c_acctbal", col("c_acctbal") + lit(7.0))
      .withColumn("_deleted", lit(false))
    var trace: Seq[String] = Seq.empty
    withRival { Snap.merge(spark, loc, rival) } {
      trace = traced { assert(Snap.mergeOcc(spark, loc, smallDelta) == 3) }
    }
    assert(!trace.exists(_.contains("conflict_retry")),
      s"disjoint rival must rebase, not retry: $trace")
    val v2 = Snap.atVersion(spark, loc, 2) // the rival's
    val v3 = Snap.head(spark, loc).get
    assert(v3.parent == 2 && v3.resolvedBase == 1,
      s"base<parent is the rebase audit, got base=${v3.resolvedBase} " +
        s"parent=${v3.parent}")
    // the rival's rewritten bucket-1 file is carried INTO my commit
    val rivalB1 = v2.files.filter(_.bucket == 1).map(_.path).toSet
    assert(rivalB1.subsetOf(v3.files.map(_.path).toSet))
    // content: both deltas applied, no lost update
    val expected = expectedAfterSmallDelta.withColumn("c_acctbal",
      when(col("c_custkey") >= 40 && col("c_custkey") < 50,
        col("c_acctbal") + 7.0).otherwise(col("c_acctbal")))
    assert(rows(Snap.read(spark, loc)) == rows(expected))
  }

  test("mergeOcc vs overlapping rival: conflict -> discard + full retry " +
      "against the rival's head; the rival's rows survive where my delta " +
      "does not overwrite them") {
    val loc = tmpLoc("occ_ov")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    // rival updates keys [5,15) — same bucket-0 file my delta rewrites;
    // keys 10..14 are NOT in my delta, so they must carry the rival's
    // +7 into the final state (proof the retry re-read the rival's file
    // instead of rebasing over it)
    val rival = cust.filter(col("c_custkey") >= 5 && col("c_custkey") < 15)
      .withColumn("c_acctbal", col("c_acctbal") + lit(7.0))
      .withColumn("_deleted", lit(false))
    var trace: Seq[String] = Seq.empty
    withRival { Snap.merge(spark, loc, rival) } {
      trace = traced { assert(Snap.mergeOcc(spark, loc, smallDelta) == 3) }
    }
    assert(trace.exists(_.contains("conflict_retry")),
      s"overlapping rival must force a retry: $trace")
    val v3 = Snap.head(spark, loc).get
    assert(v3.parent == 2 && v3.resolvedBase == 2,
      "the retry must have re-resolved against the rival's head")
    val expected = expectedAfterSmallDelta.withColumn("c_acctbal",
      when(col("c_custkey") >= 10 && col("c_custkey") < 15,
        col("c_acctbal") + 7.0).otherwise(col("c_acctbal")))
    assert(rows(Snap.read(spark, loc)) == rows(expected))
    // the discarded first attempt left no stage dir behind
    val fs = Published.fsOf(loc)
    assert(!fs.listStatus(loc).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("stage-v")),
      "a lost-race stage dir leaked")
  }

  test("mergeOcc vs rival optimize that folded my rewrite set: retry " +
      "(my pre-images vanished), then clean commit over the folded file") {
    val loc = tmpLoc("occ_fold")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    // grow bucket 3 to two files so the rival fold has work
    val ins = cust.filter(col("c_custkey") < 3)
      .select((col("c_custkey") + 2000L).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .withColumn("_deleted", lit(false))
    Snap.merge(spark, loc, ins)
    val before = rows(Snap.read(spark, loc))
    // my delta rewrites bucket 3's ORIGINAL file (key 120)
    val mine = cust.filter(col("c_custkey") === 120)
      .withColumn("c_acctbal", lit(1.25)).withColumn("_deleted", lit(false))
    var trace: Seq[String] = Seq.empty
    withRival { Snap.optimize(spark, loc, minFilesPerBucket = 2) } {
      trace = traced { assert(Snap.mergeOcc(spark, loc, mine) == 4) }
    }
    assert(trace.exists(_.contains("conflict_retry")),
      s"a folded rewrite set must force a retry: $trace")
    val got = Snap.read(spark, loc).filter(col("c_custkey") === 120).collect()
    assert(got.length == 1 && got(0).getAs[Double]("c_acctbal") == 1.25)
    assert(rows(Snap.read(spark, loc)) ==
      before.map(_.split("\\|")).map { p =>
        if (p(0) == "120") { p(3) = "1.25"; p.mkString("|") } else p.mkString("|")
      }.toSet)
  }

  test("mergeOcc vs rival additive evolve: rebase under the WIDENED " +
      "schema — my narrow staged files null-fill the new column") {
    val loc = tmpLoc("occ_evo")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    var trace: Seq[String] = Seq.empty
    withRival { Snap.addColumns(spark, loc, "c_extra INT") } {
      trace = traced { assert(Snap.mergeOcc(spark, loc, smallDelta) == 3) }
    }
    assert(!trace.exists(_.contains("conflict_retry")),
      s"a metadata-only evolve must rebase, not retry: $trace")
    val v3 = Snap.head(spark, loc).get
    assert(v3.parent == 2 && v3.resolvedBase == 1)
    assert(v3.schema.fieldNames.contains("c_extra"))
    val df = Snap.read(spark, loc)
    assert(df.filter(col("c_extra").isNotNull).count() == 0)
    assert(rows(df.drop("c_extra")) == rows(expectedAfterSmallDelta))
  }

  test("stream-lineage stamp: lease-held stamp-or-verify, torn partial " +
      "stamps heal by re-stamp, landed foreign stamps refuse (r17 advice)") {
    val root = Files.createTempDirectory("lineage")
    def ckpt(id: String): String = {
      val d = root.resolve(s"ck_$id"); Files.createDirectories(d)
      Files.write(d.resolve("metadata"), s"""{"id":"$id"}""".getBytes("UTF-8"))
      d.toString
    }
    val loc = new HPath(root.resolve("tbl").toString)
    val fs = Published.fsOf(loc)
    // fresh table: stamps (with the landed-whole footer), re-verifies
    Published.assertStreamLineage(loc, ckpt("aaa"), "spec")
    Published.assertStreamLineage(loc, ckpt("aaa"), "spec")
    val stampP = new HPath(loc, "_GRAFT_CKPT")
    val stamped = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(loc.toString, "_GRAFT_CKPT")), "UTF-8")
    assert(stamped == "aaa" + Published.StampFooter)
    // a LANDED foreign stamp refuses loudly
    intercept[IllegalArgumentException] {
      Published.assertStreamLineage(loc, ckpt("bbb"), "spec")
    }
    // a TORN stamp (crash mid-PUT: partial bytes, no footer) is the
    // crashed-create artifact — no batch can have applied under it, so
    // it heals by re-stamp instead of wedging the table forever
    scala.util.Using.resource(fs.create(stampP, true))(
      _.write("aa".getBytes("UTF-8"))) // partial bytes of some dead stamp
    Published.assertStreamLineage(loc, ckpt("ccc"), "spec")
    // an EMPTY stamp (the r16 artifact) heals the same way
    scala.util.Using.resource(fs.create(stampP, true))(_ => ())
    Published.assertStreamLineage(loc, ckpt("ddd"), "spec")
    intercept[IllegalArgumentException] {
      Published.assertStreamLineage(loc, ckpt("eee"), "spec")
    }
    // no lease debris left behind by the stamp's lease hold
    assert(!fs.exists(new HPath(loc.getParent, "tbl._GRAFT_LEASE")))
  }

  test("an Int-keyed table merges numerically — file intersection can " +
      "never compare decimal strings lexicographically") {
    // the review-found corruption shape: file stats [2,100+], delta key
    // 5. Lexicographic \"100\" >= \"5\" is FALSE, so a string-kinded
    // compare would carry the file, keep the old row AND write the
    // upsert — a duplicate key with conflicting values.
    val loc = tmpLoc("intkey")
    val c = cust.withColumn("c_custkey", col("c_custkey").cast("int"))
    Snap.create(spark, loc, c, Seq("c_custkey"), "c_custkey", 2,
      layout = "range", tag = "t")
    assert(Snap.head(spark, loc).get.keyKind == "long")
    val d = c.filter(col("c_custkey") === 5)
      .withColumn("c_acctbal", lit(42.0)).withColumn("_deleted", lit(false))
    Snap.merge(spark, loc, d)
    val got = Snap.read(spark, loc).filter(col("c_custkey") === 5).collect()
    assert(got.length == 1, s"key 5 duplicated or lost: ${got.length} rows")
    assert(got(0).getAs[Double]("c_acctbal") == 42.0)
  }

  // ------------------------------------------------ merge-on-read (r19)
  test("mergeMor: a 1-row delete commits O(1 row) — every base file " +
      "carries byte-for-byte, one 1-row delta file lands, the read " +
      "applies it") {
    val loc = tmpLoc("mor1")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val v1 = Snap.head(spark, loc).get
    val del = cust.filter(col("c_custkey") === 42)
      .withColumn("_deleted", lit(true))
    assert(Snap.mergeMor(spark, loc, del) == 2)
    val v2 = Snap.head(spark, loc).get
    assert(v2.op == "mor" && v2.parent == 1)
    // the write-amplification pin: NO base file rewritten
    assert(v2.files.map(_.path) == v1.files.map(_.path),
      "a MOR delete rewrote a base file")
    assert(v2.deltas.size == 1 && v2.deltas.head.rows == 1L &&
      v2.deltas.head.min.toLong == 42L && v2.deltas.head.max.toLong == 42L,
      s"expected one 1-row delta file, got ${v2.deltas}")
    assert(rows(Snap.read(spark, loc)) ==
      rows(cust.filter(col("c_custkey") =!= 42)))
    // time travel: v1 still serves the full table
    assert(rows(Snap.read(spark, loc, asOf = Some(1))) == rows(cust))
  }

  test("mergeMor ≡ COW merge on the same delta; latest-wins across " +
      "stacked deltas; optimize folds them back into the base") {
    val locCow = tmpLoc("mor_cow")
    val locMor = tmpLoc("mor_mor")
    for (loc <- Seq(locCow, locMor))
      Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
        layout = "range", tag = "t")
    Snap.merge(spark, locCow, smallDelta)
    Snap.mergeMor(spark, locMor, smallDelta)
    assert(rows(Snap.read(spark, locMor)) == rows(Snap.read(spark, locCow)),
      "MOR and COW diverged on the same delta")
    // stack a second MOR delta over the first: key 5 was +1000'd by
    // smallDelta; now re-set it — the NEWER delta must win at read
    val d2 = cust.filter(col("c_custkey") === 5)
      .withColumn("c_acctbal", lit(3.5)).withColumn("_deleted", lit(false))
    assert(Snap.mergeMor(spark, locMor, d2) == 3)
    assert(Snap.head(spark, locMor).get.deltas.size == 4) // 3 buckets + b0 again
    val got5 = Snap.read(spark, locMor)
      .filter(col("c_custkey") === 5).collect()
    assert(got5.length == 1 && got5(0).getAs[Double]("c_acctbal") == 3.5,
      "latest delta did not win")
    // fold: every fat bucket (base + deltas >= 2 files) rewrites to one
    val v4 = Snap.optimize(spark, locMor, minFilesPerBucket = 2)
    val h = Snap.head(spark, locMor).get
    assert(v4 == 4 && h.op == "optimize" && h.deltas.isEmpty,
      s"fold left deltas: ${h.deltas}")
    assert(h.files.groupBy(_.bucket).valuesIterator.forall(_.size == 1))
    val expected = rows(Snap.read(spark, locMor, asOf = Some(3)))
    assert(rows(Snap.read(spark, locMor)) == expected,
      "the fold changed content")
    // changelog: the fold step is invisible
    assert(Snap.changes(spark, locMor, 3, 4).count() == 0)
  }

  test("COW merge over outstanding deltas: touched buckets fold (a stale " +
      "delta can never mask the merge's rows); untouched buckets' deltas " +
      "carry and keep applying") {
    val loc = tmpLoc("mor_fold")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    // delta A (bucket 0): key 5 -> 100; delta B (bucket 3): key 140 -> 7
    Snap.mergeMor(spark, loc, cust.filter(col("c_custkey") === 5)
      .withColumn("c_acctbal", lit(100.0)).withColumn("_deleted", lit(false)))
    Snap.mergeMor(spark, loc, cust.filter(col("c_custkey") === 140)
      .withColumn("c_acctbal", lit(7.0)).withColumn("_deleted", lit(false)))
    assert(Snap.head(spark, loc).get.deltas.map(_.bucket).sorted == Seq(0, 3))
    // COW merge touching bucket 0 only: must FOLD delta A (else A's
    // seq-2 row would out-sequence the new base row at read time) and
    // carry delta B untouched
    val cow = cust.filter(col("c_custkey") === 5)
      .withColumn("c_acctbal", lit(200.0)).withColumn("_deleted", lit(false))
    assert(Snap.merge(spark, loc, cow) == 4)
    val h = Snap.head(spark, loc).get
    assert(h.deltas.map(_.bucket) == Seq(3),
      s"bucket 0's delta must fold into the COW rewrite: ${h.deltas}")
    val got = Snap.read(spark, loc)
      .filter(col("c_custkey") === 5 || col("c_custkey") === 140)
      .collect().map(r => r.getAs[Long]("c_custkey") ->
        r.getAs[Double]("c_acctbal")).toMap
    assert(got == Map(5L -> 200.0, 140L -> 7.0),
      s"stale delta masked the merge (or a carried delta was lost): $got")
    // a fold WIDENS the rewrite: a COW delta whose own range misses the
    // outstanding delta's key must still rewrite that key's base file
    val cow2 = cust.filter(col("c_custkey") === 115) // bucket 3, range [115,115]
      .withColumn("c_acctbal", lit(1.0)).withColumn("_deleted", lit(false))
    assert(Snap.merge(spark, loc, cow2) == 5)
    val h5 = Snap.head(spark, loc).get
    assert(h5.deltas.isEmpty, "the widened rewrite must fold bucket 3's delta")
    val got140 = Snap.read(spark, loc).filter(col("c_custkey") === 140).collect()
    assert(got140.length == 1 && got140(0).getAs[Double]("c_acctbal") == 7.0,
      "folding bucket 3 lost its delta's row")
  }

  test("MOR read plan: the delta key mask broadcasts (LeftAnti " +
      "BroadcastHashJoin) — the base side never shuffles for the apply") {
    val loc = tmpLoc("mor_plan")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    Snap.mergeMor(spark, loc, cust.filter(col("c_custkey") < 5)
      .withColumn("c_acctbal", lit(1.0)).withColumn("_deleted", lit(false)))
    val df = Snap.read(spark, loc)
    df.collect() // AQE finalizes the physical plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"the MOR key mask did not broadcast — the base side would " +
        s"shuffle at 100 TB:\n${plan.take(2000)}")
  }

  test("changelog across mor commits: inserts/updates carry post-images, " +
      "deletes carry TRUE pre-images (resolved through earlier deltas), " +
      "carried base files never read") {
    val loc = tmpLoc("mor_cdf")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    // v2 (mor): update key 0 (+1000), delete key 80, insert key 1000
    Snap.mergeMor(spark, loc, smallDelta.filter(
      col("c_custkey") === 0 || col("c_custkey") === 80 ||
        col("c_custkey") === 1000))
    // v3 (mor): delete key 1000 — its pre-image lives in v2's DELTA
    // file (never folded), so the reader must resolve through deltas
    Snap.mergeMor(spark, loc, cust.filter(col("c_custkey") === 0)
      .select((col("c_custkey") + 1000L).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .withColumn("_deleted", lit(true)))
    val ch = Snap.changes(spark, loc, 1, 3)
    val byKey = ch.collect().map(r => (r.getAs[Int]("_commit_version"),
      r.getAs[Long]("c_custkey")) ->
      (r.getAs[String]("_change_type"), r.getAs[Double]("c_acctbal"))).toMap
    val bal0 = cust.filter(col("c_custkey") === 0)
      .head().getAs[Double]("c_acctbal")
    val bal80 = cust.filter(col("c_custkey") === 80)
      .head().getAs[Double]("c_acctbal")
    assert(byKey((2, 0L)) == ("update", bal0 + 1000.0))
    assert(byKey((2, 80L)) == ("delete", bal80)) // pre-image
    assert(byKey((2, 1000L))._1 == "insert")
    // v3's delete pre-image must be the INSERTED row's value (9.99),
    // read from v2's delta file — not the source table's
    assert(byKey((3, 1000L)) == ("delete", 9.99),
      s"delete pre-image not resolved through the delta: ${byKey((3, 1000L))}")
    assert(byKey.size == 4)
    // O(delta) pin: the plan reads delta files + the touched buckets'
    // base pre-image files only — never bucket 1/2 base files
    val touched = ch.inputFiles.map(p => new HPath(p).getName).toSet
    val untouchedBase = Snap.atVersion(spark, loc, 1).files
      .filter(f => f.bucket == 1).map(f => new HPath(f.path).getName).toSet
    assert(untouchedBase.nonEmpty && touched.intersect(untouchedBase).isEmpty,
      s"changelog read an untouched bucket's base file: $touched")
  }

  test("mergeOcc vs rival MOR delta: key-range overlap retries (the " +
      "rival's delta would out-sequence my staged rows); a disjoint " +
      "rival delta rebases and carries") {
    // overlap case: rival lands a MOR delta on key 7 while I stage a
    // COW rewrite of bucket 0 (keys < 10 in my ranges)
    val loc = tmpLoc("occ_mor_ov")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val rivalOverlap = cust.filter(col("c_custkey") === 7)
      .withColumn("c_acctbal", col("c_acctbal") + lit(7.0))
      .withColumn("_deleted", lit(false))
    var trace: Seq[String] = Seq.empty
    withRival { Snap.mergeMor(spark, loc, rivalOverlap) } {
      trace = traced { assert(Snap.mergeOcc(spark, loc, smallDelta) == 3) }
    }
    assert(trace.exists(_.contains("conflict_retry")),
      s"an overlapping rival MOR delta must force a retry: $trace")
    // the retry FOLDS the rival's delta; my replace-upsert then wins
    assert(Snap.head(spark, loc).get.deltas.isEmpty)
    assert(rows(Snap.read(spark, loc)) == rows(expectedAfterSmallDelta))

    // disjoint case: rival's MOR delta hits bucket 3's key 140 — my
    // insert range [1000,1001] shares the bucket but not the range →
    // rebase, and the rival's delta FILE rides into my manifest
    val loc2 = tmpLoc("occ_mor_dj")
    Snap.create(spark, loc2, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val rivalDisjoint = cust.filter(col("c_custkey") === 140)
      .withColumn("c_acctbal", lit(7.0)).withColumn("_deleted", lit(false))
    withRival { Snap.mergeMor(spark, loc2, rivalDisjoint) } {
      trace = traced { assert(Snap.mergeOcc(spark, loc2, smallDelta) == 3) }
    }
    assert(!trace.exists(_.contains("conflict_retry")),
      s"a range-disjoint rival delta must rebase, not retry: $trace")
    val v3 = Snap.head(spark, loc2).get
    assert(v3.resolvedBase == 1 && v3.parent == 2, "rebase audit")
    assert(v3.deltas.size == 1 && v3.deltas.head.bucket == 3,
      "the rival's delta file must carry through the rebase")
    val expected = expectedAfterSmallDelta.withColumn("c_acctbal",
      when(col("c_custkey") === 140, 7.0).otherwise(col("c_acctbal")))
    assert(rows(Snap.read(spark, loc2)) == rows(expected))
  }

  test("changes(updatePreimages): updates emit pre+post image pairs — " +
      "across COW and MOR steps, preimages resolved through deltas; the " +
      "default single-'update' shape is untouched") {
    val loc = tmpLoc("cdfpre")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    Snap.merge(spark, loc, cust.filter(col("c_custkey") === 3)
      .withColumn("c_acctbal", lit(111.0)).withColumn("_deleted", lit(false)))
    Snap.mergeMor(spark, loc, cust.filter(col("c_custkey") === 3)
      .withColumn("c_acctbal", lit(222.0)).withColumn("_deleted", lit(false)))
    val orig = cust.filter(col("c_custkey") === 3)
      .head().getAs[Double]("c_acctbal")
    val ch = Snap.changes(spark, loc, 1, 3, updatePreimages = true)
      .collect().map(r => (r.getAs[Int]("_commit_version"),
        r.getAs[String]("_change_type")) -> r.getAs[Double]("c_acctbal"))
      .toMap
    assert(ch == Map(
      (2, "update_preimage") -> orig, (2, "update_postimage") -> 111.0,
      (3, "update_preimage") -> 111.0, (3, "update_postimage") -> 222.0),
      s"pre/post pairs wrong: $ch")
    // default shape unchanged: one 'update' row per step, post-image
    val plain = Snap.changes(spark, loc, 1, 3).collect()
      .map(r => r.getAs[String]("_change_type")).toSeq
    assert(plain == Seq("update", "update"))
  }

  test("maintained aggregate follower: destination ≡ full recompute " +
      "after every poll (group births, moves, zero-count deaths); " +
      "replay no-op; a differently-shaped poll refuses") {
    import graft.streaming.SnapFollow
    val src = tmpLoc("aggsrc")
    val dst = tmpLoc("aggdst")
    Snap.create(spark, src, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    SnapFollow.ensureAggDst(spark, src, dst, "c_nationkey", "c_acctbal")
    def recompute: DataFrame =
      SnapFollow.aggOf(Snap.read(spark, src), "c_nationkey", "c_acctbal")
    assert(rows(Snap.read(spark, dst)) == rows(recompute))
    val nkType = cust.schema("c_nationkey").dataType
    // poll 1 (COW): update values in existing groups + BIRTH group 99
    val d1 = cust.filter(col("c_custkey") < 10)
      .withColumn("c_acctbal", col("c_acctbal") + lit(1000.0))
      .unionByName(cust.filter(col("c_custkey") < 3)
        .select((col("c_custkey") + 1000L).as("c_custkey"), col("c_name"),
          lit(99L).cast(nkType).as("c_nationkey"),
          lit(5.25).as("c_acctbal"), col("c_mktsegment")))
      .withColumn("_deleted", lit(false))
    Snap.merge(spark, src, d1)
    SnapFollow.pollOnceAgg(spark, src, dst, "c_nationkey", "c_acctbal")
    assert(rows(Snap.read(spark, dst)) == rows(recompute),
      "maintained aggregate diverged after the COW poll")
    assert(Snap.read(spark, dst)
      .filter(col("c_nationkey") === 99L).count() == 1, "born group missing")
    // poll 2 (MOR): MOVE key 20 to another group + KILL group 99
    val moveTo = cust.filter(col("c_custkey") === 21)
      .head().getAs[Number]("c_nationkey").longValue
    val d2 = cust.filter(col("c_custkey") === 20)
      .withColumn("c_nationkey", lit(moveTo).cast(nkType))
      .withColumn("_deleted", lit(false))
      .unionByName(cust.filter(col("c_custkey") < 3)
        .select((col("c_custkey") + 1000L).as("c_custkey"), col("c_name"),
          lit(99L).cast(nkType).as("c_nationkey"),
          lit(5.25).as("c_acctbal"), col("c_mktsegment"))
        .withColumn("_deleted", lit(true)))
    Snap.mergeMor(spark, src, d2)
    SnapFollow.pollOnceAgg(spark, src, dst, "c_nationkey", "c_acctbal")
    assert(rows(Snap.read(spark, dst)) == rows(recompute),
      "maintained aggregate diverged after the MOR poll (move + death)")
    assert(Snap.read(spark, dst)
      .filter(col("c_nationkey") === 99L).count() == 0,
      "a zero-count group must be DELETED, like the recompute")
    // poll 3: a group born with ONLY null values reads val_sum NULL —
    // not the running 0 — exactly like the recompute's `sum` (r19
    // advice: the nval column is what makes this reproducible)
    def g98 = Snap.read(spark, dst).filter(col("c_nationkey") === 98L)
    val d3 = cust.filter(col("c_custkey") < 3)
      .select((col("c_custkey") + 2000L).as("c_custkey"), col("c_name"),
        lit(98L).cast(nkType).as("c_nationkey"),
        lit(null).cast("double").as("c_acctbal"), col("c_mktsegment"))
      .withColumn("_deleted", lit(false))
    Snap.merge(spark, src, d3)
    SnapFollow.pollOnceAgg(spark, src, dst, "c_nationkey", "c_acctbal")
    assert(rows(Snap.read(spark, dst)) == rows(recompute),
      "maintained aggregate diverged on an all-null-valued group birth")
    val b98 = g98.head()
    assert(b98.isNullAt(b98.fieldIndex("val_sum")),
      "an all-null group must read val_sum NULL, like the recompute")
    // one non-null row arrives: the sum is exactly that value…
    val d4 = cust.filter(col("c_custkey") === 1)
      .select((col("c_custkey") + 3000L).as("c_custkey"), col("c_name"),
        lit(98L).cast(nkType).as("c_nationkey"),
        lit(7.5).as("c_acctbal"), col("c_mktsegment"))
      .withColumn("_deleted", lit(false))
    Snap.merge(spark, src, d4)
    SnapFollow.pollOnceAgg(spark, src, dst, "c_nationkey", "c_acctbal")
    assert(rows(Snap.read(spark, dst)) == rows(recompute),
      "maintained aggregate diverged when a non-null row joined the group")
    // …and deleting the group's LAST non-null row restores NULL
    Snap.merge(spark, src, d4.withColumn("_deleted", lit(true)))
    SnapFollow.pollOnceAgg(spark, src, dst, "c_nationkey", "c_acctbal")
    assert(rows(Snap.read(spark, dst)) == rows(recompute),
      "maintained aggregate diverged after the last non-null row died")
    val a98 = g98.head()
    assert(a98.isNullAt(a98.fieldIndex("val_sum")),
      "deleting the last non-null row must restore val_sum NULL")
    // replay no-op: same cursor, no new destination version
    val vBefore = Snap.head(spark, dst).get.version
    SnapFollow.pollOnceAgg(spark, src, dst, "c_nationkey", "c_acctbal")
    assert(Snap.head(spark, dst).get.version == vBefore)
    // a differently-shaped maintenance poll refuses (stamped shape)
    intercept[IllegalArgumentException] {
      SnapFollow.pollOnceAgg(spark, src, dst, "c_nationkey", "c_custkey")
    }
  }

  test("followAgg live: the continuous maintained aggregate converges " +
      "on commits landing while it runs") {
    import graft.streaming.SnapFollow
    val src = tmpLoc("agglive_src")
    val dst = tmpLoc("agglive_dst")
    val ckpt = Files.createTempDirectory("agglive_ck").toString
    Snap.create(spark, src, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    val q = SnapFollow.followAgg(spark, src.toString, dst.toString, ckpt,
      "c_nationkey", "c_acctbal",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))
    try {
      (1 to 3).foreach { k =>
        Snap.mergeStreaming(spark, src,
          cust.filter(col("c_custkey") < 10 * k)
            .withColumn("c_acctbal", col("c_acctbal") + lit(k.toDouble))
            .withColumn("_deleted", lit(false)),
          batchId = k.toLong)
      }
      val srcV = Snap.head(spark, src).get.version.toLong
      val deadline = System.currentTimeMillis() + 120000L
      while (Snap.head(spark, dst).forall(_.applied < srcV) &&
          System.currentTimeMillis() < deadline) Thread.sleep(200L)
      assert(Snap.head(spark, dst).exists(_.applied == srcV),
        "followAgg never caught up")
    } finally q.stop()
    assert(rows(Snap.read(spark, dst)) ==
      rows(SnapFollow.aggOf(Snap.read(spark, src),
        "c_nationkey", "c_acctbal")))
  }

  // ---------------------------------------------- bucket evolution (r19)
  test("rebucket: row-conserving topology rewrite with re-derived " +
      "bounds; clamped keys re-spread; old versions keep serving; " +
      "outstanding deltas fold; changelog-neutral") {
    val loc = tmpLoc("reb")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 2,
      layout = "range", tag = "t")
    // append far past the create-time range [0,149]: clamps to bucket 1
    val ins = cust.filter(col("c_custkey") < 20)
      .select((col("c_custkey") + 10000L).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .withColumn("_deleted", lit(false))
    Snap.merge(spark, loc, ins)
    // an outstanding MOR delta must fold into the rebucket rewrite
    Snap.mergeMor(spark, loc, cust.filter(col("c_custkey") === 3)
      .withColumn("c_acctbal", lit(1.5)).withColumn("_deleted", lit(false)))
    val preRows = rows(Snap.read(spark, loc))
    assert(Snap.rebucket(spark, loc, newBuckets = 8) == 4)
    val v4 = Snap.head(spark, loc).get
    assert(v4.op == "rebucket" && v4.buckets == 8 && v4.deltas.isEmpty)
    assert(v4.rangeMax == 10019L, "bounds not re-derived from current data")
    assert(rows(Snap.read(spark, loc)) == preRows, "rebucket changed content")
    // the re-spread that matters: under the old clamped topology the
    // appended keys shared the top bucket with the originals' tail;
    // under the re-derived bounds they own a tight bucket of their own
    assert(v4.files.exists(f =>
        f.min.toLong >= 10000L && f.max.toLong <= 10019L),
      s"appended keys did not get their own bucket: ${v4.files}")
    assert(v4.files.map(_.bucket).distinct.size >= 2)
    // changelog-neutral; pre-rebucket versions still serve
    assert(Snap.changes(spark, loc, 3, 4).count() == 0)
    assert(Snap.atVersion(spark, loc, 2).buckets == 2)
    assert(rows(Snap.read(spark, loc, asOf = Some(2))) ==
      rows(cust.unionByName(ins.drop("_deleted"))))
    // a post-rebucket merge on the once-clamped keys rewrites a strict
    // subset of the table (the operator's point)
    val reprice = ins.withColumn("c_acctbal", col("c_acctbal") + lit(5.0))
    assert(Snap.merge(spark, loc, reprice) == 5)
    val v5 = Snap.head(spark, loc).get
    val carried = v5.files.map(_.path).toSet
    val rewrote = v4.files.filterNot(f => carried.contains(f.path))
    assert(rewrote.map(_.rows).sum < v4.files.map(_.rows).sum,
      "the re-price rewrote the whole table despite the rebucket")
  }

  test("mergeOcc vs rival rebucket: never rebase across a topology " +
      "change — retry against the new head (stale bucket ids refused)") {
    val loc = tmpLoc("occ_reb")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 4,
      layout = "range", tag = "t")
    var trace: Seq[String] = Seq.empty
    withRival { Snap.rebucket(spark, loc, newBuckets = 8) } {
      trace = traced { assert(Snap.mergeOcc(spark, loc, smallDelta) == 3) }
    }
    assert(trace.exists(_.contains("conflict_retry")),
      s"a rival rebucket must force a retry: $trace")
    val v3 = Snap.head(spark, loc).get
    assert(v3.buckets == 8 && v3.parent == 2 && v3.resolvedBase == 2,
      "the retry must have re-resolved against the rebucketed head")
    assert(rows(Snap.read(spark, loc)) == rows(expectedAfterSmallDelta))
    // every committed file's bucket id is consistent with the NEW
    // topology: a future merge's rewrite set must cover its keys
    val d2 = cust.filter(col("c_custkey") === 5)
      .withColumn("c_acctbal", lit(9.0)).withColumn("_deleted", lit(false))
    Snap.merge(spark, loc, d2)
    val got = Snap.read(spark, loc).filter(col("c_custkey") === 5).collect()
    assert(got.length == 1 && got(0).getAs[Double]("c_acctbal") == 9.0,
      "stale bucket ids duplicated a key after the topology change")
  }

  test("deep-range changelog: chunked plan reads the same rows as the " +
      "naive union with plan size bounded by the chunking, not the range") {
    val loc = tmpLoc("deep")
    import spark.implicits._
    val base = (0L until 20L).map(k => (k, 0L)).toDF("k", "v")
    Snap.create(spark, loc, base, Seq("k"), "k", 2, layout = "range", tag = "t")
    val versions = 40
    (1 to versions).foreach { i =>
      // rotate through updates, inserts, and deletes so every change
      // kind appears throughout the range
      val d = (i % 3) match {
        case 0 => Seq(((i % 20).toLong, i.toLong, false))
        case 1 => Seq((100L + i, i.toLong, false))
        case _ => Seq((100L + i - 1, 0L, true))
      }
      Snap.merge(spark, loc, d.toDF("k", "v", "_deleted"))
    }
    val naive = Snap.changes(spark, loc, 1, versions + 1,
      chunkSteps = Int.MaxValue)
    val chunked = Snap.changes(spark, loc, 1, versions + 1, chunkSteps = 8)
    assert(rows(chunked) == rows(naive), "chunking changed the changelog")
    def nodes(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case n => n }.size
    val (nNaive, nChunked) = (nodes(naive), nodes(chunked))
    // naive: O(versions) joins; chunked: O(range/chunkSteps)
    // localCheckpointed leaves + the final union
    assert(nChunked < 60 && nNaive > nChunked * 3,
      s"plan not bounded: naive=$nNaive chunked=$nChunked")
    // the threshold counts VERSIONS, not emitted frames (r19 review
    // finding): a shallow range under the default stays LAZY — its
    // plan keeps file lineage (inputFiles) instead of checkpointing
    assert(Snap.changes(spark, loc, 1, 11).inputFiles.nonEmpty,
      "a 10-version range was eagerly checkpointed under the default")
  }

  test("reserved column namespace: the _graft_/__graft_ prefixes refuse " +
      "at create/addColumns/rename — the _b shadowing hazard generalized " +
      "to every working column the read paths synthesize") {
    import spark.implicits._
    val loc = tmpLoc("rsv")
    intercept[IllegalArgumentException] {
      Snap.create(spark, loc, Seq((1L, 2L)).toDF("k", "__graft_rn"),
        Seq("k"), "k", 2, layout = "range", tag = "t")
    }
    Snap.create(spark, loc, Seq((1L, 2L)).toDF("k", "v"),
      Seq("k"), "k", 2, layout = "range", tag = "t")
    intercept[IllegalArgumentException] {
      Snap.addColumns(spark, loc, "_graft_extra INT")
    }
    intercept[IllegalArgumentException] {
      Snap.renameColumn(spark, loc, "v", "__graft_o_v")
    }
  }

  test("vacuum's stage sweep spares a LIVE leaseless stager: fresh " +
      "_live heartbeat marker shields an old dir; a silent marker ages out") {
    val loc = tmpLoc("hb")
    Snap.create(spark, loc, cust, Seq("c_custkey"), "c_custkey", 2,
      layout = "range", tag = "t")
    val fs = Published.fsOf(loc)
    val stale = System.currentTimeMillis() - Published.leaseStaleMs * 2
    // a stage dir whose WRITE finished long ago (dir mtime old) but
    // whose stager is still alive in its stats read-back — the r18
    // advice window: only the heartbeat marker says so
    val stage = new HPath(loc, "stage-v9-feedface")
    fs.mkdirs(stage)
    scala.util.Using.resource(fs.create(new HPath(stage, "part-x"), true))(
      _.write("d".getBytes("UTF-8")))
    scala.util.Using.resource(fs.create(new HPath(stage, "_live"), true))(
      _.write("hb".getBytes("UTF-8")))
    fs.setTimes(new HPath(stage, "part-x"), stale, stale)
    fs.setTimes(stage, stale, stale)
    val (_, _, spared) = Snap.vacuum(spark, loc, keepVersions = 5)
    assert(spared == 0 && fs.exists(stage),
      "vacuum swept a stage dir with a fresh liveness marker")
    // the stager dies (kill -9: heartbeat stops, marker ages out)
    fs.setTimes(new HPath(stage, "_live"), stale, stale)
    fs.setTimes(stage, stale, stale)
    val (_, _, swept) = Snap.vacuum(spark, loc, keepVersions = 5)
    assert(swept == 1 && !fs.exists(stage),
      "an aged-out marker must not shield dead debris")
  }

  test("manifest render/parse round-trips empty-string stats — a landed " +
      "commit must never mis-parse as torn") {
    val m = Snap.SnapManifest(3, 2, "w", "t",
      "k STRING,v BIGINT", Seq("k"), "k", 2, "hash", 0L, 0L,
      Seq(Snap.SnapFile("data/f1", 0, 5L, "", ""),
        Snap.SnapFile("data/f2", 1, 2L, "a b", "z")))
    val back = Snap.parse(new String(Snap.render(m), "UTF-8"))
    assert(back.contains(m), s"round-trip lost fields: $back")
  }
}
