package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Geo

/** Streaming ingest pipeline — the reference's data path
  * (`/root/reference/regionSpout.go:126-163`: geo-filtered stream → region
  * assignment → envelope → per-region routed sink) as one Structured
  * Streaming lineage.
  *
  * Source abstraction: a file stream stands in for the Twitter/Kafka
  * source in tests (`regionSpout.go:139` / `:158`); in production the same
  * lineage reads `spark.readStream.format("kafka")` — nothing downstream
  * changes, which is the point of declaring the plan instead of
  * hand-wiring goroutines.
  *
  * Delivery: the reference is at-most-once (async produce, nil delivery
  * report, `regionSpout.go:158-160`); this pipeline is exactly-once to
  * files / at-least-once to Kafka via checkpointing — strictly stronger,
  * documented divergence (SURVEY §7.4).
  */
object Ingest {

  /** O2: unbounded stream of events from a parquet DIRECTORY (the file
    * source tails a directory; schema inferred from a batch peek;
    * nanosecond timestamps normalized like Tables.events).
    * `maxFilesPerTrigger` is the file-source backpressure knob standing in
    * for the reference's 30 s stagger (`regionSpout.go:98`). */
  def eventsFileStream(spark: SparkSession, path: String,
                       maxFilesPerTrigger: Int = 1): DataFrame = {
    val schema = spark.read.parquet(path).schema
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
    if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** O4→O5→O6: region assignment (the map-side grid lookup of
    * `Geo.regionIdFor` — legal on streams because it shuffles nothing),
    * drop out-of-region traffic like the server-side filter did, then project the rawTweet envelope
    * (`regionSpout.go:46-51`) with its per-region topic
    * (`regionSpout.go:156`). Works identically on batch and streaming
    * frames. */
  def envelope(spark: SparkSession, events: DataFrame): DataFrame = {
    val assigned = Geo.assignRegion(spark, events)
      .filter(col("region") =!= "NONE")
    val cat = Geo.regions(spark).select(col("id"), col("name"))
    // stream-static join; the static side is broadcast (tiny catalog)
    assigned.join(broadcast(cat), assigned("region") === cat("id"))
      .select(
        col("event_id").cast("string").as("id"),
        col("props").as("text"),
        col("region"),
        to_json(struct(col("id").as("ID"), col("name"))).as("region_data"),
        concat(lit("raw-tweets-"), col("region")).as("topic"))
  }

  /** O7 (file form): exactly-once per-region partitioned parquet sink —
    * the batch-layout twin of per-region Kafka topics. At 100 TB the same
    * call with `partitionBy(region, date)` gives the partition-pruned
    * layout every downstream query wants. */
  def routedParquetSink(df: DataFrame, outDir: String, checkpointDir: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("region")
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** O7 (reprocessing form): per-micro-batch dynamic partition overwrite
    * into a partitioned lake — each batch replaces exactly the partitions
    * it touches ([[graft.sources.Layout.overwritePartitions]]), so
    * re-delivering a batch after a failure rewrites the same partitions
    * to the same content instead of appending duplicates. Semantics are
    * last-writer-wins PER PARTITION: correct when partition keys align
    * with batch boundaries (date/window-partitioned backfill, the
    * standard reprocessing layout), NOT for partitions fed incrementally
    * by many batches — that is [[routedParquetSink]]'s append job. */
  def partitionUpsertSink(df: DataFrame, root: String, partitionCols: Seq[String],
                          checkpointDir: String,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Layout.overwritePartitions(batch, root, partitionCols)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** Streaming dedup with bounded state: duplicates arriving within the
    * watermark horizon are dropped, state for keys older than the
    * watermark is evicted — the only dedup form that survives an unbounded
    * stream (exact global dropDuplicates would grow state forever).
    * Batch-side twin: Dedup.q25ExactDedup's hash-groupBy. */
  def dedupedStream(events: DataFrame, keys: Seq[String],
                    watermarkDelay: String = "1 minute"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming incremental-dedup gate: every micro-batch of incoming
    * (doc_id, text) rows is gated against the banded corpus index
    * ([[graft.operators.Dedup.bandedIndex]]) and its skip/ingest
    * decisions land under `outDir/batch=<id>/`. This is the q62
    * semantics in the position a production pipeline actually runs them:
    * as an ingest stage, daily batch against the maintained index.
    *
    * The index really is MAINTAINED, durably: each batch's ingested docs
    * write their banded signatures as a parquet delta under
    * `indexDir/batch=<id>/`, and every batch gates against
    * corpus ∪ deltas — so a near-dup of an earlier batch's doc is
    * skipped even across restarts and separate runs (a driver-local
    * accumulator would reset to corpus-only each run). Within-batch
    * duplicates resolve to the lowest id (`gateBatch(withinBatch =
    * true)`). The supplied corpusIndex is materialized ONCE per sink —
    * micro-batches never re-run the corpus signature pipeline, and only
    * the batch-sized delta is ever written.
    *
    * foreachBatch + dynamic partition overwrite on the batch id makes
    * re-delivery idempotent for BOTH outputs (decisions and index
    * delta): a replayed batch rewrites its own partitions, never
    * duplicates — and can't match itself against its previously-written
    * delta, see gateBatch's old≠new guard. Same reprocessing contract
    * as [[partitionUpsertSink]]. */
  def dedupGateSink(newDocs: DataFrame, corpusIndex: DataFrame,
                    outDir: String, checkpointDir: String, indexDir: String,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // the static corpus index materializes once per sink; the MAINTAINED
    // part lives as parquet deltas under indexDir (batch=<id> partitions)
    // so it survives restarts — a driver-local accumulator would silently
    // reset to corpus-only on every new run (including each AvailableNow
    // invocation) and let cross-run duplicates through. Per batch the
    // gate reads corpus ∪ deltas; only the batch's own delta is written
    // (O(batch), not an O(index) copy), and delta writes go through the
    // same dynamic partition overwrite as the decisions, so a replayed
    // batch rewrites its own delta partition idempotently.
    val corpus = corpusIndex.localCheckpoint(true)
    val spark = corpus.sparkSession
    def deltas(): DataFrame = {
      val p = new org.apache.hadoop.fs.Path(indexDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // explicit schema, never inference: a batch that ingests zero docs
      // (all skips — routine in replay/recrawl) still runs its dynamic
      // partition overwrite, leaving indexDir with only a _SUCCESS marker;
      // schema inference over that data-file-less directory throws
      // AnalysisException and would crash the stream on the NEXT batch.
      // With the schema supplied, the same read returns an empty frame.
      if (fs.exists(p) && fs.listStatus(p).nonEmpty)
        spark.read
          .schema(corpus.schema.add("batch", org.apache.spark.sql.types.LongType))
          .parquet(indexDir)
          .select(col("old_doc"), col("old_sh"), col("band"))
      else corpus.limit(0)
    }
    newDocs.writeStream
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        // collapse row-level re-delivery first: two rows carrying the SAME
        // doc_id in one batch never match each other in gateBatch (its
        // keep-first uses strict old < new, and equal ids are excluded in
        // both directions), so both would say "ingest", duplicate the
        // decisions frame, and fan out the doc_id joins below. Re-delivered
        // rows are byte-identical, so which copy survives is immaterial.
        val batch = rawBatch.dropDuplicates("doc_id")
        val decisions = graft.operators.Dedup
          .gateBatch(batch, corpus.union(deltas()), withinBatch = true)
          .localCheckpoint(true)
        graft.sources.Layout.overwritePartitions(
          decisions.withColumn("batch", lit(batchId)),
          outDir, Seq("batch"))
        val ingested = batch.join(
          decisions.filter(col("decision") === "ingest").select(col("doc_id")),
          "doc_id")
        graft.sources.Layout.overwritePartitions(
          graft.operators.Dedup.bandedIndex(ingested)
            .withColumn("batch", lit(batchId)),
          indexDir, Seq("batch"))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Streaming QUALITY gate — q117's composed filter chain applied at
    * ingest time, the online form of the clean-the-crawl pass (where
    * [[dedupGateSink]] is the online q62): per micro-batch, every doc
    * gets its first-failed-rule verdict from the SAME factored
    * expression the batch query uses
    * ([[graft.functions.Text.withFilterVerdict]] — stream ≡ batch by
    * construction), survivors land under `outDir/batch=<id>` and the
    * per-(source, verdict) waterfall counts land under
    * `auditDir/batch=<id>` as durable metadata. Both writes are dynamic
    * partition overwrites keyed by batch id, so a replayed batch
    * rewrites its own partitions idempotently (the delta-index
    * discipline); rejected docs are not retained — the audit records
    * what was killed and why, which is what the pipeline operator
    * reads, and the raw source remains the system of record.
    *
    * Scale shape: verdicts are one map-side projection per batch (the
    * native bigram kernel + codegen'd HOFs — no shuffle before the
    * audit's (source, verdict)-domain aggregate), so gate throughput
    * is scan-bound at any corpus rate. */
  def qualityGateSink(newDocs: DataFrame, outDir: String,
                      checkpointDir: String, auditDir: String,
                      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    newDocs.writeStream
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        // collapse row-level re-delivery to ONE deterministic row per
        // doc_id in a single doc_id-keyed exchange: rank rows by the
        // all-column hash and keep the max. Byte-identical copies tie on
        // the hash, so the survivor is the same CONTENT whichever copy
        // wins; a residual doc_id collision (same id, DIFFERENT bytes —
        // producer bug, but it happens) resolves to the max-hash row, so
        // a replayed batch re-emits the identical survivor set (a bare
        // dropDuplicates("doc_id") keeps an arbitrary row and the
        // idempotent-replay guarantee silently degrades to "some row").
        // The ordering carries a SECOND independent hash (salted column
        // list) so even a 64-bit collision between different payloads
        // stays deterministic — both colliding simultaneously is ~2^-128
        val allCols = rawBatch.columns.map(col)
        val picked = rawBatch
          .withColumn("__pick", xxhash64(allCols.toIndexedSeq: _*))
          .withColumn("__pick2", xxhash64((lit("graft-tiebreak-2") +: allCols).toIndexedSeq: _*))
          .withColumn("__rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("doc_id"))
              .orderBy(col("__pick").desc, col("__pick2").desc)))
          .filter(col("__rn") === 1).drop("__pick", "__pick2", "__rn")
        val judged = graft.functions.Text
          .withFilterVerdict(picked)
          .localCheckpoint(true) // two consumers of one verdict pass
        graft.sources.Layout.overwritePartitions(
          judged.filter(col("verdict") === "kept").drop("verdict")
            .withColumn("batch", lit(batchId)),
          outDir, Seq("batch"))
        graft.sources.Layout.overwritePartitions(
          judged.groupBy(col("source"), col("verdict"))
            .agg(count(lit(1)).as("n_docs"))
            .withColumn("batch", lit(batchId)),
          auditDir, Seq("batch"))
        // both consumers have executed — release the batch's verdict
        // blocks now (the eager-release discipline)
        graft.operators.Checkpoints.release(judged)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** O7 (Kafka shape): per-row routing via the `topic` column — Spark's
    * Kafka sink routes each row to its `topic`; `value` carries the
    * serialized envelope (to_json ≙ `json.Marshal`, regionSpout.go:152).
    * Returned unstarted (no broker in the test env); the projection is the
    * contract. */
  def kafkaShaped(df: DataFrame): DataFrame =
    df.select(
      col("topic"),
      col("id").cast("binary").as("key"),
      to_json(struct(col("id"), col("text"), col("region"), col("region_data")))
        .cast("binary").as("value"))

  /** Inverse of [[kafkaShaped]]: parse `(topic, key, value)` wire rows
    * (from the wire sink's files, or from a real
    * `readStream.format("kafka")` source — same columns) back into the
    * envelope fields plus the partitioning key. Malformed payloads
    * yield null envelope fields (from_json contract), mirroring the
    * reference's tolerant demux. */
  def decodeWire(df: DataFrame): DataFrame =
    df.select(
      col("topic"),
      col("key").cast("string").as("key_s"),
      from_json(col("value").cast("string"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "id STRING, text STRING, region STRING, region_data STRING")).as("j"))
      .select(col("topic"), col("key_s"), col("j.*"))

  /** O7 (Kafka wire, broker stand-in): the [[kafkaShaped]] rows written
    * through a STARTED exactly-once sink, one directory per topic —
    * byte-for-byte what the Kafka sink would ship per partition
    * (`topic` routes, `key`/`value` are the wire bytes), with a file
    * directory standing in for the broker (none resolves offline). A
    * production deployment swaps `.format("parquet")` for
    * `.format("kafka")` + bootstrap servers; nothing upstream changes. */
  def kafkaWireSink(df: DataFrame, outDir: String, checkpointDir: String,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    kafkaShaped(df)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("topic")
      .outputMode("append")
      .trigger(trigger)
      .start()
}
