package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.window.WindowGroupLimitExec

/** Physical-plan shape assertions for the round-3 and round-4 operators
  * — the scale
  * claims in their docstrings (map-side, broadcast-only, top-k pushed
  * below the exchange, no range join, hint-free funnel), checked against
  * the executed plan rather than trusted. */
class PlanShapeSpec extends SparkSpec {

  // traversal shared with PlanAuditSpec — see PlanWalk for the AQE
  // wrapper + subquery descent rationale
  private def executed(df: DataFrame): SparkPlan = PlanWalk.executed(df)
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = PlanWalk.allNodes(p)
  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] = PlanWalk.shuffles(p)

  test("RegionSpoutApp envelope: one codegen stage, no exchange, nested loop or CaseWhen") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.operators.Geo
    val catalog = GeoFixtures.seededBoxes(25, seed = 1)
    val envelope = Geo.withPoint(graft.sources.Tables.events(spark, sf))
      .withColumn("region", Geo.regionIdFor(catalog, col("lon"), col("lat")))
      .filter(col("region") =!= "NONE")
      .select(col("event_id").cast("string").as("id"), col("props").as("text"),
        col("region"), concat(lit("raw-tweets-"), col("region")).as("topic"))
    val nodes = allNodes(executed(envelope))
    val stages = nodes.collect { case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(stages.size == 1, s"expected one codegen stage, got ${stages.size}")
    val exchanges = nodes.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }
    assert(exchanges.isEmpty, s"assignment must not exchange: ${exchanges.map(_.nodeName)}")
    val nlj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j }
    assert(nlj.isEmpty, "assignment must not join the catalog")
    def exprs[T](pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, T]) =
      nodes.flatMap(_.expressions.flatMap(_.collect(pf)))
    assert(exprs { case c: org.apache.spark.sql.catalyst.expressions.CaseWhen => c }.isEmpty,
      "no when-chain may survive in the plan")
    assert(exprs { case r: graft.expressions.RegionLookup => r }.nonEmpty,
      "the native lookup must be in the plan")
  }

  test("q61 quantization is map-side: only the output sort exchanges") {
    val p = executed(graft.operators.Similarity.queries("q61_quantize_embeddings")(spark, sf))
    assert(shuffles(p).size <= 1,
      s"expected at most the ORDER BY exchange, got ${shuffles(p).size}")
  }

  test("q62 joins are all broadcast — the corpus index never shuffles") {
    val p = executed(graft.operators.Dedup.queries("q62_incremental_dedup")(spark, sf))
    val bhj = allNodes(p).collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 2, s"band join + decision join must broadcast, got ${bhj.size}")
    // remaining exchanges: match aggregate + final sort only
    assert(shuffles(p).size <= 3,
      s"no fact-side join shuffles expected, got ${shuffles(p).size}")
  }

  test("q63 pushes the per-group top-k below the exchange") {
    val p = executed(graft.operators.TrainingData.queries("q63_group_sample")(spark, sf))
    val limits = allNodes(p).collect { case w: WindowGroupLimitExec => w }
    assert(limits.size == 2,
      s"expected partial + final WindowGroupLimit, got ${limits.size}")
  }

  test("q107 pushes the last-10-per-user rank below the exchange and reuses its shuffle") {
    val p = executed(graft.operators.TrainingData.queries("q107_feature_window")(spark, sf))
    val limits = allNodes(p).collect { case w: WindowGroupLimitExec => w }
    assert(limits.size == 2,
      s"expected partial + final WindowGroupLimit, got ${limits.size}")
    // one user_id exchange shared by window + aggregate, one final sort
    assert(shuffles(p).size <= 2,
      s"window and aggregate must share the user_id shuffle, got ${shuffles(p).size}")
  }

  test("q60 has no join operator: leakage comes from one gram aggregate") {
    val p = executed(graft.operators.TrainingData.queries("q60_decontaminate")(spark, sf))
    val joins = allNodes(p).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"expected a join-free plan, got ${joins.map(_.nodeName)}")
  }

  test("q76 contains no join: the interval join is flattened to an aggregate") {
    val p = executed(graft.operators.AsOf.queries("q76_interval_join")(spark, sf))
    val joins = allNodes(p).filter(n =>
      n.nodeName.toLowerCase.contains("join"))
    assert(joins.isEmpty,
      s"flattening must eliminate the range join, got ${joins.map(_.nodeName)}")
  }

  test("q74 assignment is map-side: no exchange before the posexplode aggregate") {
    val p = executed(graft.operators.Similarity.queries("q74_kmeans_round")(spark, sf))
    // one (cell, dim) aggregate exchange + the broadcast-joined old
    // coordinates + final sort: at most 2 shuffle exchanges total
    assert(shuffles(p).size <= 2,
      s"argmin assignment must not shuffle, got ${shuffles(p).size} exchanges")
    val bhj = allNodes(p).collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 1, "old-coordinate frame joins by broadcast")
  }

  test("q82 bounds leg is pruned to a bare min/max scan, no dedup") {
    // Catalyst rewrites the bounds aggregate over the deduped relation
    // into a direct min/max over a ts-only pruned scan (distinct is
    // unnecessary under min/max) — so the plan has the fact scan plus
    // one metadata-cheap single-column scan, and NO second dedup
    // aggregate
    val p = executed(graft.operators.Windows.queries("q82_rolling_distinct")(spark, sf))
    val scans = allNodes(p).filter(_.nodeName.toLowerCase.contains("scan parquet"))
    assert(scans.size <= 2, s"got ${scans.size} scans")
    val aggs = allNodes(p).filter(_.nodeName.contains("HashAggregate"))
    // dedup 2 + bounds 2 + wau count-distinct rewrite 4 = 8; an extra
    // dedup leg would push this to 10
    assert(aggs.size <= 8, s"an extra dedup would add aggregates: ${aggs.size}")
  }

  test("q75 triangle closure joins broadcast at this SF without being hint-forced") {
    // the closure must leave join strategy to AQE: a forced broadcast
    // of the (data-dependent) pruned edge list is exactly what OOMs at
    // 100× — here we pin that (a) no hint node exists anywhere in the
    // logical plan, and (b) AQE still picks broadcast for every join
    // at this SF, so dropping the hints cost nothing locally
    val df = graft.operators.Graph.queries("q75_triangle_count")(spark, sf)
    assert(df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.isEmpty, "no join-strategy hints in the triangle plan")
    val p = executed(df)
    val joins = allNodes(p).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty, "expected join operators in the closure plan")
    val nonBroadcast = joins.filterNot(_.isInstanceOf[BroadcastHashJoinExec])
    assert(nonBroadcast.isEmpty,
      s"AQE should broadcast every closure join at this SF, got ${nonBroadcast.map(_.nodeName)}")
  }

  test("q92 packing reuses the shard partitioning: window exchange feeds the aggregate") {
    // the cumsum window hash-partitions by shard; the per-shard
    // aggregate must reuse that layout instead of re-exchanging — so
    // the whole packing job is ONE data shuffle plus the output sort
    val p = executed(graft.operators.TrainingData.queries("q92_sequence_pack")(spark, sf))
    assert(shuffles(p).size <= 2,
      s"expected shard exchange + order-by only, got ${shuffles(p).size}")
  }

  test("q94 weighted sampling plans as a top-k, not a global window") {
    val p = executed(graft.operators.TrainingData.queries("q94_weighted_sample")(spark, sf))
    val takeOrdered = allNodes(p).exists(_.nodeName.contains("TakeOrderedAndProject"))
    assert(takeOrdered, "top-k must push down as TakeOrderedAndProject")
    // the only full-width window allowed is the one OVER the k survivors
    val windows = allNodes(p).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windows.foreach { w =>
      assert(allNodes(w).exists(_.nodeName.contains("TakeOrderedAndProject")),
        "any window must sit above the top-k, never over the full corpus")
    }
  }

  test("q97 payload dedup never shuffles the payload column") {
    val p = executed(graft.operators.Multimodal.queries("q97_media_dedup")(spark, sf))
    shuffles(p).foreach { s =>
      s.child.output.foreach { a =>
        assert(a.dataType != org.apache.spark.sql.types.BinaryType
            && a.name != "text",
          s"exchange carries raw bytes: ${a.name}: ${a.dataType}")
      }
    }
  }

  test("q80 funnel joins are AQE-chosen, not forced") {
    // the step frames are small HERE, so AQE should broadcast them; the
    // assertion is that the plan still executes with no explicit hint
    // (semantic guard for the unbounded-at-scale contract) and produces
    // per-user rows
    val df = graft.operators.Windows.queries("q80_funnel")(spark, sf)
    assert(df.count() > 0)
    assert(df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.isEmpty, "no join-strategy hints in the funnel plan")
  }

  test("q108 pair stage is an equi-join on cell — never a nested loop or cartesian, on either kernel") {
    // the semdedup scale claim rests on the pair join being cell-blocked;
    // assert it for BOTH assignment kernels (literal projection at gate
    // k, mapPartitions matrix above the switch) — the kernel must change
    // WHERE cells come from, never the join shape
    val eq = graft.operators.Similarity.specCodedVectors(spark, sf)
    val cents = graft.operators.Similarity.specTrainCentroids(eq,
      graft.operators.Similarity.scaledSeeds(eq,
        graft.operators.Similarity.scaledK(eq.count())))
    for (kernel <- Seq(false, true)) {
      val celled = graft.operators.Similarity
        .withCellAssigned(eq, cents, useKernel = Some(kernel))
      val pairs = celled.as("a").join(celled.as("b"),
        org.apache.spark.sql.functions.col("a.cell") ===
          org.apache.spark.sql.functions.col("b.cell") &&
          org.apache.spark.sql.functions.col("a.vec_id") <
            org.apache.spark.sql.functions.col("b.vec_id"))
      val p = executed(pairs)
      assert(allNodes(p).collect {
        case n: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => n
        case n: org.apache.spark.sql.execution.joins.CartesianProductExec => n
      }.isEmpty, s"kernel=$kernel: pair stage must stay an equi-join on cell")
    }
  }

  test("q105 plans the null-aware anti join, not a nested loop") {
    val p = executed(graft.operators.Relational.q105NotIn(spark, sf))
    val naaj = allNodes(p).collect {
      case b: BroadcastHashJoinExec if b.isNullAwareAntiJoin => b
    }
    assert(naaj.nonEmpty, "expected BroadcastHashJoin(isNullAwareAntiJoin=true)")
    assert(allNodes(p).collect {
      case n: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => n
    }.isEmpty, "legacy BroadcastNestedLoopJoin must not appear")
  }

  test("q115/q116 search legs are training-free: no file scan once the index is built") {
    // first call builds (and caches) the index — training reads parquet
    graft.operators.Similarity.queries("q115_ann_search")(spark, sf).collect()
    graft.operators.Similarity.queries("q116_ivfpq_search")(spark, sf).collect()
    // every subsequent plan must read ONLY the cached index (RDD scan
    // leaves) — a parquet scan or a Lloyd aggregate appearing here
    // would mean the "search leg" silently re-trains, which is exactly
    // the measurement error q115/q116 exist to remove
    for (name <- Seq("q115_ann_search", "q116_ivfpq_search")) {
      val p = executed(graft.operators.Similarity.queries(name)(spark, sf))
      val fileScans = allNodes(p).filter(
        _.getClass.getSimpleName.contains("FileSourceScan"))
      assert(fileScans.isEmpty,
        s"$name reads ${fileScans.size} file scan(s) — the search leg re-trained")
    }
  }

  test("q117 filter chain is one corpus scan: two-column read, domain-sized exchanges only") {
    val df = graft.functions.Text.queries("q117_filter_chain")(spark, sf)
    val p = executed(df)
    val scans = allNodes(p).filter(_.getClass.getSimpleName.contains("FileSourceScan"))
    assert(scans.size == 1, s"waterfall attribution must not re-scan per rule, got ${scans.size} scans")
    assert(scans.head.output.map(_.name).toSet == Set("source", "text"),
      s"column pruning must reach the scan, read ${scans.head.output.map(_.name)}")
    // the (source, verdict) aggregate + the output sort — nothing fact-sized
    assert(shuffles(p).size <= 2,
      s"expected agg + sort exchanges only, got ${shuffles(p).size}")
  }

  test("q120/q121 published-table search legs scan the bucketed tables, corpus never shuffles") {
    // first calls publish the tables (train → session cache → bucketed
    // table); subsequent plans must read the TABLE — the production form
    for (name <- Seq("q120_ann_search_table", "q121_ivfpq_search_table")) {
      graft.operators.Similarity.queries(name)(spark, sf).collect()
      val p = executed(graft.operators.Similarity.queries(name)(spark, sf))
      val scans = allNodes(p).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, s"$name must read the published index table")
      assert(scans.forall(_.relation.bucketSpec.isDefined),
        s"$name read a non-bucketed file: " +
          scans.filter(_.relation.bucketSpec.isEmpty).map(_.tableIdentifier))
      // the corpus side joins by broadcast of the 10-query frame; the
      // only exchanges left are candidate-sized (per-query top-k window
      // + the final presentation sort) — nothing corpus-sized
      assert(shuffles(p).size <= 2,
        s"$name: corpus side must not shuffle, got ${shuffles(p).size} exchanges")
    }
  }

  test("q122 maintenance path: delta-bounded corpus scan, bucketed base table, zero base exchange") {
    // first call publishes the base index (train → mbase/mcents tables)
    graft.operators.Similarity.queries("q122_index_maintain_table")(spark, sf).collect()
    val p = executed(graft.operators.Similarity.queries("q122_index_maintain_table")(spark, sf))
    val scans = allNodes(p).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // the only corpus read is the DELTA: its vec_id lower bound must
    // reach the parquet scan — a maintenance pass that re-reads the
    // base corpus is the O(N)-per-ingest failure mode
    val corpus = scans.filter(_.relation.bucketSpec.isEmpty)
    assert(corpus.size == 1, s"expected one delta corpus scan, got ${corpus.size}")
    assert(corpus.head.dataFilters.exists(_.references.exists(_.name == "vec_id")),
      s"delta bound not pushed to the corpus scan: ${corpus.head.dataFilters}")
    // base occupancy comes off the bucketed assignments table
    assert(scans.exists(_.relation.bucketSpec.isDefined),
      "base occupancy must read the published mbase table")
    // ... and the bucket layout satisfies the group-by's distribution:
    // the occupancy aggregate alone plans ZERO exchanges — at 10⁹
    // indexed vectors this is the difference between reading metadata
    // and shuffling the index
    val mbaseT = spark.table(graft.operators.Similarity.indexTableName(sf, "mbase"))
    val occ = executed(mbaseT.groupBy("cell").count())
    assert(shuffles(occ).isEmpty,
      s"bucketed occupancy aggregate must not exchange, got ${shuffles(occ).size}")
  }

  test("q123 epoch roll steady state: one delta corpus scan, all index state off bucketed tables") {
    // first call trains + publishes the epoch tables; the steady-state
    // plan (what every later audit pays) must read the OLD epoch's
    // assignments and the NEW epoch's assignments + spine from the
    // published bucketed tables, and touch the raw corpus only for the
    // delta's frozen-quantizer assignment — with its vec_id bound pushed
    graft.operators.Similarity.queries("q123_index_epoch_roll")(spark, sf).collect()
    val p = executed(graft.operators.Similarity.queries("q123_index_epoch_roll")(spark, sf))
    val scans = allNodes(p).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val corpus = scans.filter(_.relation.bucketSpec.isEmpty)
    assert(corpus.size == 1, s"expected one delta corpus scan, got ${corpus.size}")
    assert(corpus.head.dataFilters.exists(_.references.exists(_.name == "vec_id")),
      s"delta bound not pushed to the corpus scan: ${corpus.head.dataFilters}")
    assert(scans.count(_.relation.bucketSpec.isDefined) >= 3,
      "old assignments, new assignments, and the spine must come off published tables")
    assert(allNodes(p).collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, "epoch audit must not plan a cartesian join")
  }

  test("q124 compaction: audit is table-local and near-exchange-free; re-compaction appends nothing") {
    import graft.operators.Similarity
    Similarity.queries("q124_index_compact")(spark, sf).collect() // bootstrap + compact
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def files(): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(warehouse,
          Similarity.indexTableName(sf, "mbasec")))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toSet
    }
    val compacted = files()
    // second call: an up-to-date index compacts to a NO-OP (idempotent
    // by the high-water mark) and the audit reads ONLY the compacted
    // bucketed table — no corpus scan, occupancy riding the bucket
    // layout (the one exchange left is the k-row presentation sort)
    val p = executed(Similarity.queries("q124_index_compact")(spark, sf))
    assert(files() == compacted, "re-compaction must not append or rewrite any file")
    val scans = allNodes(p).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.forall(_.relation.bucketSpec.isDefined),
      s"audit must read only the compacted table, got ${scans.map(_.tableIdentifier)}")
    assert(shuffles(p).size <= 1,
      s"expected at most the k-row output sort, got ${shuffles(p).size} exchanges")
  }

  test("published index halves co-join on cell with zero exchanges (bucket-for-bucket)") {
    // the layout claim of the published form: the re-rank re-attach
    // (cells ⋈ codes on (cell, vec_id)) is bucket-aligned, so with
    // broadcast off the planner gets a sort-merge join with NO exchange
    // on either side — at 10⁹ vectors this is the join that would
    // otherwise shuffle the whole index
    graft.operators.Similarity.queries("q121_ivfpq_search_table")(spark, sf).collect()
    val cells = spark.table(graft.operators.Similarity.indexTableName(sf, "cells"))
    val pq = spark.table(graft.operators.Similarity.indexTableName(sf, "pq"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevReq = spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // hash(cell) buckets cluster (cell, vec_id) keys too — same cell ⇒
      // same bucket; the default-on strictness knob would force a
      // two-key re-shuffle anyway, and relaxing it is exactly the
      // deployment setting a bucketed index serve uses
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      val p = executed(cells.join(pq, Seq("cell", "vec_id")))
      assert(allNodes(p).collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.nonEmpty, "expected a sort-merge join over the bucketed halves")
      assert(shuffles(p).isEmpty,
        s"bucket-aligned join must plan zero exchanges, got ${shuffles(p).size}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", prevReq)
    }
  }

  test("published index survives catalog loss: attach re-declares, never retrains or rewrites") {
    import graft.operators.Similarity
    // ensure all four index tables are published (serve + maintain legs)
    val servedBefore = Similarity.queries("q121_ivfpq_search_table")(spark, sf).collect()
    val maintBefore = Similarity.queries("q122_index_maintain_table")(spark, sf).collect()
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val tbls = Seq("cells", "pq", "mbase", "mcents").map(Similarity.indexTableName(sf, _))
    def fileStamps(): Map[String, Long] = tbls.flatMap { t =>
      val d = java.nio.file.Paths.get(warehouse, t)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(d).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
    }.toMap
    val stamps = fileStamps()
    assert(stamps.nonEmpty, "published index files must exist in the warehouse")
    tbls.foreach { t =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(warehouse, t, "_GRAFT_PUBLISHED")),
        s"$t must carry the publish marker")
      // simulated engine restart: the in-memory catalog forgets the
      // table; the external files — the durable artifact — survive
      spark.sql(s"DROP TABLE `$t`")
      assert(!spark.catalog.tableExists(t))
    }
    // serve + maintain again: the attach path must re-declare the
    // published files — identical results, and the files untouched
    // (an mtime change would mean the engine silently retrained)
    val servedAfter = Similarity.queries("q121_ivfpq_search_table")(spark, sf).collect()
    val maintAfter = Similarity.queries("q122_index_maintain_table")(spark, sf).collect()
    assert(servedAfter.toSeq == servedBefore.toSeq, "served results must replay exactly")
    assert(maintAfter.toSeq == maintBefore.toSeq, "maintain audit must replay exactly")
    assert(fileStamps() == stamps, "attach must not rewrite any published file")
    // the re-declared table keeps its bucket layout: the occupancy
    // aggregate still plans zero exchanges off the attached metadata
    val occ = executed(spark.table(Similarity.indexTableName(sf, "mbase"))
      .groupBy("cell").count())
    assert(shuffles(occ).isEmpty,
      s"attached bucketed table lost its layout: ${shuffles(occ).size} exchanges")
  }

  test("attach is version-locked: a changed corpus snapshot rebuilds instead of serving stale") {
    import graft.operators.Similarity
    // a corpus the test owns (same bytes as sf — only the snapshot
    // identity will change), so /root/testdata stays untouched
    val dir = java.nio.file.Files.createTempDirectory("attach_stale").toString
    val emb = java.nio.file.Paths.get(dir, "embeddings.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "embeddings.parquet"), emb)
    val first = Similarity.queries("q120_ann_search_table")(spark, dir).collect()
    val tbl = Similarity.indexTableName(dir, "cells")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def stamps(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(warehouse, tbl))
        .iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    }
    val published = stamps()
    // the corpus is regenerated in place (identical content here — the
    // guard keys on the snapshot metadata, not a data scan) ...
    java.nio.file.Files.setLastModifiedTime(emb,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(emb).toMillis + 1234))
    // ... and the catalog forgets the table (new JVM)
    spark.sql(s"DROP TABLE `$tbl`")
    val second = Similarity.queries("q120_ann_search_table")(spark, dir).collect()
    // same bytes trained → same result; but it must come from a REBUILD,
    // not an attach of the now-unverifiable prior publish
    assert(second.toSeq == first.toSeq)
    assert(stamps() != published,
      "stale-snapshot attach served the previous corpus's index files")
    // the deeper staleness hazard: the SESSION cache must be snapshot-
    // keyed too, or the rebuild republishes the cached OLD training
    // under the new fingerprint. Regenerate the corpus with genuinely
    // different geometry (a vec_id-dependent shift — sign flips and
    // dimension permutations preserve all cosines and would prove
    // nothing) and re-serve: the result must CHANGE; a republished
    // stale cache would reproduce `first` byte-for-byte.
    import org.apache.spark.sql.functions.{col, lit, transform => arrTransform}
    val emb2 = java.nio.file.Paths.get(dir, "embeddings_regen_tmp")
    spark.read.parquet(emb.toString)
      .withColumn("embedding",
        arrTransform(col("embedding"),
          x => x + col("vec_id").cast("double") * lit(0.01)))
      .write.parquet(emb2.toString)
    java.nio.file.Files.delete(emb)
    java.nio.file.Files.move(emb2, emb)
    spark.sql(s"DROP TABLE `$tbl`")
    val third = Similarity.queries("q120_ann_search_table")(spark, dir).collect()
    assert(third.toSeq != first.toSeq,
      "regenerated corpus must retrain from the new bytes, not re-serve the session-cached index")
  }

  test("snap view: a WHERE-pruned snap side broadcasts where the unpruned " +
      "estimate shuffles (SnapStatsPrune)") {
    import org.apache.spark.sql.functions.{col, md5}
    val root = java.nio.file.Files.createTempDirectory("psp_statsprune")
    val loc = new org.apache.hadoop.fs.Path(root.resolve("t").toString)
    val data = spark.range(200000).select(col("id").as("k"),
      md5(col("id").cast("string")).as("s"))
    graft.sources.Snap.create(spark, loc, data, Seq("k"), "k", 8,
      layout = "range", tag = "psp_statsprune")
    val idx = graft.sources.SnapSql.registerView(spark, "psp_snap", loc)
    // threshold BETWEEN the pruned subset (~total/8) and the table
    // (total): join strategy now depends on whether the optimizer saw
    // the pruned estimate
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (idx.sizeInBytes / 3).toString)
    try {
      // probe side large enough (range stats: 8B × 5M = 40MB) that it
      // is never the broadcast candidate itself
      spark.range(5000000).createOrReplaceTempView("psp_probe")
      val pruned = spark.sql("SELECT p.id, s.s FROM psp_probe p " +
        "JOIN psp_snap s ON p.id = s.k WHERE s.k < 25000")
      val unpruned = spark.sql("SELECT p.id, s.s FROM psp_probe p " +
        "JOIN psp_snap s ON p.id = s.k")
      // the INITIAL physical plan isolates the estimate-driven choice
      // (AQE could rescue the unpruned case at runtime from real sizes
      // — that is the fallback this rule exists to make unnecessary)
      assert(pruned.queryExecution.sparkPlan.collect {
          case j: BroadcastHashJoinExec => j }.nonEmpty,
        "WHERE-pruned snap side must plan a broadcast join from " +
          "manifest-pruned statistics")
      assert(unpruned.queryExecution.sparkPlan.collect {
          case j: BroadcastHashJoinExec => j }.isEmpty,
        "unpruned snap side must not broadcast under the same threshold " +
          "(the contrast that proves the pruned estimate moved the plan)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Loops.dataSizedParts: floor, knee, and ceiling") {
    import graft.operators.Loops
    assert(Loops.dataSizedParts(0L, 32) == 4, "floor holds on empty inputs")
    assert(Loops.dataSizedParts(100000L, 32) == 4, "sub-knee inputs stay at the floor")
    // the measured sf0.1 point: 1.17M edges -> ~9 partitions (~130k rows each)
    val p = Loops.dataSizedParts(1173742L, 32)
    assert(p >= 8 && p <= 10, s"1.17M rows must land near the probe's sweet spot, got $p")
    assert(Loops.dataSizedParts(100000000L, 32) == 32, "ceiling binds at scale")
    assert(Loops.dataSizedParts(100000000L, 4) == 4, "ceiling is the executor count")
  }

}
