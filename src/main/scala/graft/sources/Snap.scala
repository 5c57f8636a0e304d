package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode,
  SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{ClassicConversions, Dataset => ClassicDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, BooleanType, ByteType, DataType,
  DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType,
  ShortType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Snapshot-committed table format — the mutation story the engine was
  * missing: UPSERT and DELETE against an existing table without
  * rewriting it, plus time travel and stats-based file skipping.
  *
  * The reference pipeline is append-only (`regionSpout.go:156-160`
  * produces, never mutates), and our [[Published]] tables follow suit:
  * a publish replaces the whole location. A 100 TB training-data
  * warehouse needs the third write shape — merge a CDC delta into a
  * petabyte table touching only the data that changed. This module
  * implements that shape from first principles on the snapshot /
  * manifest pattern the open lakehouse formats established publicly:
  *
  *   - **Data files are immutable.** Every commit writes NEW files
  *     under `data/`; nothing is ever modified in place, so readers
  *     need no locks and a resolved snapshot stays readable while
  *     writers land more commits (snapshot isolation, bounded by the
  *     vacuum horizon).
  *   - **A manifest file IS the commit.** `manifest-v<N>` lists every
  *     live data file (with per-file row counts and key min/max) and
  *     carries a checksum footer; it is created with
  *     [[Published.createNewAtomic]] — the same create-new primitive
  *     the lease protocol stands on — so a commit is a single atomic
  *     object appearing. A crash ANYWHERE before that create leaves
  *     only unreferenced files (invisible; vacuum sweeps them); a
  *     crash MID-create leaves a footer-less manifest that readers
  *     skip (fall back to the parent version) and the next
  *     lease-holding writer sweeps.
  *   - **Merge is copy-on-write at file granularity.** A delta's keys
  *     hash (or range-map) to buckets; only files in affected buckets
  *     whose [min,max] key range intersects the delta's per-bucket key
  *     range are rewritten (anti-join out matched keys, union the
  *     upserts). Every other file is carried into the new manifest BY
  *     REFERENCE — at 100 TB a delta touching 1% of buckets reads and
  *     writes 1% of the table, and the commit's cost is O(delta), not
  *     O(table).
  *   - **File stats make scans skip.** `layout=range` tables assign
  *     buckets by key range, so per-file [min,max] is tight and a
  *     range scan plans only the intersecting files ([[prunedScan]]) —
  *     the manifest is the zone map q77 audits, promoted to an actual
  *     planning structure.
  *
  * Concurrency: writers serialize through the table's single-writer
  * file lease ([[Published.withLeaseAwaiting]] — stale-break, ownership
  * tokens, ambiguity resolution all inherited), and every commit gate
  * re-checks ownership ([[Published.assertLeaseOwned]]) so a writer
  * whose lease was legitimately broken fails BEFORE its manifest
  * create. Store faults: control-plane ops go through the shared
  * transient-fault policy ([[Published.retryIO]] / retried reads /
  * retried deletes), the manifest create resolves PUT ambiguity by
  * reading back its own writer token, and data moves finish forward
  * ([[Published.moveResumable]]).
  *
  * Scale ledger: driver state is O(buckets + versions·files) manifest
  * METADATA plus, per write, at most a broadcast threshold's worth of
  * delta KEYS ([[contractPass]]'s driver path, bounded in what its one
  * job returns in all; a larger delta falls back). The other collects
  * are per-bucket stat rows (≤ buckets) and manifest listings
  * (≤ versions, vacuum-bounded).
  */
object Snap {

  /** Phase-level wall-clock attribution for the commit machinery, off
    * unless `SPARK_GRAFT_TRACE=true` (the s05–s09 bench entries are
    * per-commit fixed costs — Spark-job listeners see only ~40% of the
    * wall; this names the driver-side remainder). Deliberately
    * println-based and env-gated: zero overhead when off, and the
    * probe runs that use it grep stdout. */
  private val traceOn: Boolean =
    sys.env.get("SPARK_GRAFT_TRACE").contains("true")
  private[sources] def traced[T](phase: String)(body: => T): T =
    if (!traceOn) body
    else {
      val t0 = System.nanoTime()
      try body
      finally println(f"SNAPTRACE $phase ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }

  /** A rival committed the version this writer resolved against — the
    * lease protocol makes this unreachable except across a legitimate
    * stale-break; failing loudly beats silently re-basing the merge. */
  final class SnapConflict(msg: String) extends IllegalStateException(msg)

  /** One immutable data file: repo-relative path + the stats the
    * planner prunes and audits by. min/max are canonical strings of
    * the table's key kind ("long" decimal or raw string). `extra`
    * carries per-file [min,max] for the table's declared stats columns
    * ([[SnapManifest.statsCols]] + a zorder table's second dimension) —
    * a column absent here (all-null in the file, or declared after the
    * file was written) reads as "unknown": [[prunedScanBy]] keeps the
    * file, never skips on a guess. */
  final case class SnapFile(path: String, bucket: Int, rows: Long,
                            min: String, max: String,
                            extra: Map[String, (String, String)] = Map.empty)

  /** One committed snapshot. `tag` is the caller's idempotency /
    * lineage stamp (the demo queries store a source fingerprint).
    * `layout` is "hash" (pmod murmur3 — co-location for merges) or
    * "range" (monotone buckets over [rangeMin,rangeMax] — tight file
    * stats for skipping).
    *
    * `op` records WHAT the commit did ("create" | "merge" |
    * "optimize" | "evolve") — the changelog reader skips the
    * row-set-neutral kinds without opening a file. `base` is the
    * version this writer RESOLVED against when planning: equal to
    * `parent` for serialized commits, older than `parent` when an
    * optimistic commit rebased over a disjoint rival ([[mergeOcc]]) —
    * the audit that distinguishes a rebase from a serialized commit.
    *
    * `phys` maps LOGICAL column names to the PHYSICAL names the bytes
    * were written under (entries only where they differ). Physical
    * names are assigned once — at [[create]]/[[addColumns]] — and
    * never change, which is what makes [[renameColumn]] a pure
    * metadata commit: every file ever written stays correct, readers
    * alias physical→logical at plan time (the field-id-free column-
    * mapping shape the public manifest formats use). `retired` lists
    * physical names whose column was dropped or renamed-away history
    * still occupies in old files — [[addColumns]] refuses to reuse
    * them (the old bytes would bleed into the new column).
    *
    * `deltas` (r19) are the MERGE-ON-READ files: small per-bucket
    * upsert/delete files ([[mergeMor]]) applied over the base `files`
    * at read time and folded into them by [[optimize]] or by the next
    * copy-on-write merge that touches their bucket. Each carries the
    * same key-range stats as a base file; its rows additionally hold
    * the delete flag and the committing version (the latest-wins
    * order). Empty on every pre-r19 manifest.
    *
    * `dvs` (r20) are POSITIONAL DELETION VECTORS ([[deleteVector]]):
    * one tiny parquet of doomed row positions PER TARGET BASE FILE
    * (`extra("__graft_target")` names the target), subtracted from
    * that file's rows at read time. One DV per target keeps folding
    * trivially precise: a rewrite of the target applies and retires
    * exactly its DVs; a carried target carries them. Written under
    * manifest format version 3; empty on every earlier manifest. */
  final case class SnapManifest(version: Int, parent: Int, writer: String,
                                tag: String, schemaDdl: String,
                                keyCols: Seq[String], bucketCol: String,
                                buckets: Int, layout: String,
                                rangeMin: Long, rangeMax: Long,
                                files: Seq[SnapFile],
                                applied: Long = -1L,
                                op: String = "merge",
                                base: Int = -1,
                                phys: Map[String, String] = Map.empty,
                                retired: Seq[String] = Seq.empty,
                                statsCols: Seq[String] = Seq.empty,
                                z2: String = "",
                                z2Min: Long = 0L, z2Max: Long = 0L,
                                deltas: Seq[SnapFile] = Seq.empty,
                                dvs: Seq[SnapFile] = Seq.empty) {
    def schema: StructType = StructType.fromDDL(schemaDdl)
    def keyKind: String = Snap.keyKindOf(schema(bucketCol).dataType)
    /** The version the writer planned against (−1 legacy = parent). */
    def resolvedBase: Int = if (base < 0) parent else base
    /** The on-file name of logical column `n`. */
    def physicalOf(n: String): String = phys.getOrElse(n, n)
    /** Columns whose per-file [min,max] every staged file records:
      * the declared stats set plus a zorder table's second dimension
      * (its first is `bucketCol`, covered by the primary stats). */
    def effectiveStatsCols: Seq[String] =
      (statsCols ++ (if (layout == "zorder") Seq(z2) else Seq.empty))
        .filter(c => c.nonEmpty && c != bucketCol).distinct
  }

  /** Stat/compare kind for a bucket column: every integral type is
    * "long" (stats stringify as decimals; comparisons parse back), so
    * an Int-keyed table can never fall into lexicographic compares —
    * "100" < "5" as strings, and a merge that trusted that order would
    * carry a file its delta overlaps (review finding, r17). Unsupported
    * kinds are rejected at [[create]], never guessed. */
  private[graft] def keyKindOf(dt: org.apache.spark.sql.types.DataType): String =
    dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | LongType => "long"
      case org.apache.spark.sql.types.StringType => "string"
      case other => sys.error(s"snap: unsupported bucket-column type $other " +
        "(supported: integral types, string)")
    }

  // ------------------------------------------------------- manifest IO

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private[graft] def manifestPath(loc: HPath, v: Int): HPath =
    new HPath(loc, f"manifest-v$v%08d")

  /** Highest manifest format version this reader understands. Version 2
    * adds merge-on-read delta files (`dfile` lines); version 3 adds
    * positional deletion vectors (`vfile` lines). The version is a
    * FEATURE GATE, not a vanity stamp: a manifest is written at the
    * LOWEST version that can express it (delta-free commits stay v1,
    * byte-identical to pre-r19 output), and a reader that meets a
    * version above its ceiling REFUSES LOUDLY instead of parsing the
    * lines it knows and silently mis-serving the table — a pre-MOR
    * reader fed a v2 manifest would otherwise serve base files only,
    * resurrecting deleted rows and dropping upserts (r19 advice; the
    * public formats gate the same way — Delta bumps minReaderVersion
    * for deletion vectors, Iceberg bumps format-version for v2 deletes). */
  private[graft] val FormatVersion = 3

  private def requiredFormatVersion(m: SnapManifest): Int =
    if (m.dvs.nonEmpty) 3
    else if (m.deltas.nonEmpty) 2
    else 1

  private[graft] def render(m: SnapManifest): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(s"graft-snap ${requiredFormatVersion(m)}\n")
    sb.append(s"version=${m.version}\n")
    sb.append(s"parent=${m.parent}\n")
    sb.append(s"writer=${enc(m.writer)}\n")
    sb.append(s"tag=${enc(m.tag)}\n")
    sb.append(s"schema=${enc(m.schemaDdl)}\n")
    sb.append(s"keyCols=${m.keyCols.map(enc).mkString(",")}\n")
    sb.append(s"bucketCol=${enc(m.bucketCol)}\n")
    sb.append(s"buckets=${m.buckets}\n")
    sb.append(s"layout=${m.layout}\n")
    sb.append(s"range=${m.rangeMin},${m.rangeMax}\n")
    sb.append(s"applied=${m.applied}\n")
    sb.append(s"op=${m.op}\n")
    sb.append(s"base=${m.base}\n")
    sb.append(s"phys=${m.phys.toSeq.sortBy(_._1)
      .map { case (l, p) => enc(l) + ":" + enc(p) }.mkString(",")}\n")
    sb.append(s"retired=${m.retired.map(enc).mkString(",")}\n")
    sb.append(s"statscols=${m.statsCols.map(enc).mkString(",")}\n")
    sb.append(s"z2=${enc(m.z2)}\n")
    sb.append(s"z2range=${m.z2Min},${m.z2Max}\n")
    def fileLine(kind: String, f: SnapFile): Unit = {
      val extras = f.extra.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s" ${enc(c)}:${enc(mn)}:${enc(mx)}" }.mkString
      sb.append(s"$kind=${enc(f.path)} ${f.bucket} ${f.rows} " +
        s"${enc(f.min)} ${enc(f.max)}$extras\n")
    }
    m.files.foreach(fileLine("file", _))
    m.deltas.foreach(fileLine("dfile", _))
    m.dvs.foreach(fileLine("vfile", _))
    val body = sb.toString.getBytes("UTF-8")
    val sum = java.lang.Long.toHexString(
      graft.expressions.GraftHash.h60(body))
    body ++ s"#commit $sum\n".getBytes("UTF-8")
  }

  /** Parse + validate: None for a torn write (missing/mismatched
    * checksum footer — the mid-create crash state) or any malformed
    * content. Readers treat None as "this version never committed". */
  private[graft] def parse(text: String): Option[SnapManifest] = {
    if (text == null) return None
    val footerAt = text.lastIndexOf("#commit ")
    if (footerAt < 0 || !text.endsWith("\n")) return None
    val body = text.substring(0, footerAt)
    val sum = text.substring(footerAt + "#commit ".length).trim
    val expect = java.lang.Long.toHexString(
      graft.expressions.GraftHash.h60(body.getBytes("UTF-8")))
    if (sum != expect) return None
    // The checksum PASSED: this is a landed commit, not a torn write.
    // From here, "I don't understand it" must be LOUD — returning None
    // would make every caller fall back to the parent version and
    // silently serve a stale table forever.
    val header = body.takeWhile(_ != '\n')
    if (header.startsWith("graft-snap ")) {
      val v = scala.util.Try(
        header.stripPrefix("graft-snap ").trim.toInt).getOrElse(-1)
      if (v > FormatVersion)
        throw new IllegalStateException(
          s"snap manifest declares format version $v but this reader " +
            s"supports up to $FormatVersion — the commit is VALID " +
            "(checksum ok) and uses features this build cannot apply; " +
            "upgrade the reader rather than serve a wrong row set")
    }
    try {
      val lines = body.split("\n", -1).toSeq
      if (!Seq("graft-snap 1", "graft-snap 2", "graft-snap 3")
          .contains(lines.head))
        return None
      val kv = lines.tail.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1)) }
      val fileKinds = Set("file", "dfile", "vfile")
      val m = kv.filterNot(e => fileKinds.contains(e._1)).toMap
      def parseFile(v: String): SnapFile = {
        // limit -1: a string key whose max stat URL-encodes to "" would
        // otherwise lose its trailing field and mis-parse a LANDED
        // commit as torn (review finding, r17)
        val p = v.split(" ", -1)
        val extra = p.drop(5).filter(_.nonEmpty).map { e =>
          val q = e.split(":", -1)
          dec(q(0)) -> (dec(q(1)), dec(q(2)))
        }.toMap
        SnapFile(dec(p(0)), p(1).toInt, p(2).toLong, dec(p(3)), dec(p(4)),
          extra)
      }
      val files = kv.filter(_._1 == "file").map(e => parseFile(e._2))
      val deltas = kv.filter(_._1 == "dfile").map(e => parseFile(e._2))
      val dvs = kv.filter(_._1 == "vfile").map(e => parseFile(e._2))
      val range = m("range").split(",")
      Some(SnapManifest(m("version").toInt, m("parent").toInt,
        dec(m("writer")), dec(m("tag")), dec(m("schema")),
        m("keyCols").split(",").toSeq.filter(_.nonEmpty).map(dec),
        dec(m("bucketCol")), m("buckets").toInt, m("layout"),
        range(0).toLong, range(1).toLong, files,
        // absent on pre-streaming manifests: no batch ever applied
        m.get("applied").map(_.toLong).getOrElse(-1L),
        // absent on pre-r18 manifests: assume a data-changing commit
        // (the changelog reader then reads rather than skips — safe)
        m.getOrElse("op", "merge"),
        m.get("base").map(_.toInt).getOrElse(-1),
        m.get("phys").filter(_.nonEmpty).map(_.split(",").map { e =>
          val i = e.indexOf(':')
          (dec(e.substring(0, i)), dec(e.substring(i + 1)))
        }.toMap).getOrElse(Map.empty),
        m.get("retired").filter(_.nonEmpty)
          .map(_.split(",").toSeq.map(dec)).getOrElse(Seq.empty),
        m.get("statscols").filter(_.nonEmpty)
          .map(_.split(",").toSeq.map(dec)).getOrElse(Seq.empty),
        m.get("z2").map(dec).getOrElse(""),
        m.get("z2range").map(_.split(",")(0).toLong).getOrElse(0L),
        m.get("z2range").map(_.split(",")(1).toLong).getOrElse(0L),
        deltas, dvs))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Read a manifest with the null-ambiguity resolved (the campaign
    * lesson, applied at design time): `Left(retryable)` ONLY when the
    * file is definitively ABSENT — a file that exists but stays
    * unreadable past the retry budget throws LOUDLY, because every
    * caller's fallback (serve the parent version, sweep as torn,
    * vacuum as dead) would be a silent wrong answer against a
    * merely-blipping store. */
  private[sources] def readDefinitive(fs: FileSystem,
                             p: HPath): Either[Unit, Option[SnapManifest]] = {
    val txt = Published.retryNullable(Published.readOrNull(fs, p))
    if (txt != null) Right(parse(txt))
    else if (Published.retryIO()(fs.exists(p)))
      throw new java.io.IOException(s"snap manifest $p exists but stayed " +
        "unreadable past the retry budget — refusing to act on a guess " +
        "(serving an older snapshot or sweeping a live commit)")
    else Left(())
  }

  /** All manifest files at `loc`, (version, path), sorted descending.
    * O(versions) listing — vacuum bounds it. */
  private def listManifests(fs: FileSystem, loc: HPath): Seq[(Int, HPath)] = {
    val sts = Published.retryIO() {
      if (!Published.exists(fs, loc))
        Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(loc)
    }
    sts.map(_.getPath).filter(_.getName.startsWith("manifest-v"))
      .flatMap { p =>
        scala.util.Try(p.getName.stripPrefix("manifest-v").toInt).toOption
          .map(v => (v, p))
      }.sortBy(-_._1).toSeq
  }

  /** The current committed snapshot: highest version that VALIDATES.
    * Torn manifests (dead writers' mid-create crashes) are skipped —
    * readers never delete; the next lease-holding writer sweeps them. */
  def head(spark: SparkSession, loc: HPath): Option[SnapManifest] = {
    val fs = Published.fsOf(loc)
    listManifests(fs, loc).iterator
      .flatMap { case (_, p) =>
        // a vanished file (listed, then vacuumed by the lease holder)
        // skips; unreadable-but-present throws inside readDefinitive —
        // a read blip must never demote the head to its parent
        readDefinitive(fs, p).getOrElse(None)
      }
      .nextOption()
  }

  /** A specific committed version — loud on a vacuumed / never-
    * committed one: time travel past the horizon is an error, not an
    * empty frame. readDefinitive, not the lenient read (r17 advice): a
    * PRESENT-but-unreadable manifest under a store blip must throw the
    * refusing-to-guess IOException, not report "never committed". */
  def atVersion(spark: SparkSession, loc: HPath, v: Int): SnapManifest = {
    val fs = Published.fsOf(loc)
    readDefinitive(fs, manifestPath(loc, v)).getOrElse(None).getOrElse(
      sys.error(s"snap $loc has no committed version $v " +
        "(vacuumed past the horizon, torn, or never committed)"))
  }

  /** The newest committed version whose manifest landed at or before
    * `tsMillis` — the `TIMESTAMP AS OF` resolution. Commit time is the
    * manifest file's store modification time (the format stamps no
    * wall clock; this is the Delta convention and is monotone per
    * chain because manifests are create-once). A manifest vacuumed
    * between the listing and the status probe skips, like [[head]]. */
  def versionAsOfTimestamp(spark: SparkSession, loc: HPath,
                           tsMillis: Long): SnapManifest = {
    val fs = Published.fsOf(loc)
    listManifests(fs, loc).iterator
      .filter { case (_, p) =>
        (try Some(Published.retryIO()(fs.getFileStatus(p)))
         catch { case _: java.io.FileNotFoundException => None })
          .exists(_.getModificationTime <= tsMillis)
      }
      .flatMap { case (_, p) => readDefinitive(fs, p).getOrElse(None) }
      .nextOption()
      .getOrElse(sys.error(s"snap $loc has no version committed at or " +
        s"before t=${tsMillis}ms (before the first commit, or vacuumed " +
        "past the horizon)"))
  }

  // ------------------------------------------------------- read paths

  private def readFiles(spark: SparkSession, loc: HPath,
                        m: SnapManifest, files: Seq[SnapFile],
                        withPos: Boolean = false): DataFrame = {
    val schema = m.schema
    if (files.isEmpty) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
      if (!withPos) empty
      else empty.withColumn(FileNameCol, lit(null).cast("string"))
        .withColumn(RowPosCol, lit(null).cast("long"))
    } else {
      val fs = Published.fsOf(loc)
      val abs = files.map(f => fs.makeQualified(new HPath(loc, f.path)).toString)
      // explicit schema UNDER PHYSICAL NAMES: no inference pass over
      // footers, no partition-discovery surprises, and renamed columns
      // resolve to the names their bytes were written under — the
      // logical alias on top is a pure projection (filters push
      // through it).
      // retryIO around the PLAN construction (r18 fault-campaign
      // finding): DataFrameReader.parquet eagerly builds the file
      // index, and that per-file driver-side listing is outside BOTH
      // Spark's task retries and the engine's per-op policy — one
      // store blip at plan time killed an otherwise-retriable read.
      // The index caches the statuses, so retrying the constructor
      // covers exactly the exposed window; execution-time reads are
      // task-retried as before.
      val physSchema = StructType(
        schema.fields.map(f => f.copy(name = m.physicalOf(f.name))))
      val raw = Published.retryIO()(
        spark.read.schema(physSchema).parquet(abs: _*))
      // withPos: the serving file's NAME + the row's index ride along
      // (the deletion-vector subtraction keys on them) — selected off
      // the raw scan, BEFORE the alias projection hides _metadata
      val posCols =
        if (!withPos) Seq.empty
        else Seq(
          element_at(split(col("_metadata.file_path"), "/"), -1)
            .as(FileNameCol),
          col("_metadata.row_index").as(RowPosCol))
      if (m.phys.isEmpty && posCols.isEmpty) raw
      else raw.select((schema.fields.map(f =>
        col(m.physicalOf(f.name)).as(f.name)) ++ posCols).toSeq: _*)
    }
  }

  /** The (target file name, doomed position) rows of a DV set — tiny
    * by design (O(deleted positions)), broadcast by the apply. */
  private def readDvRows(spark: SparkSession, loc: HPath,
                         dvFiles: Seq[SnapFile]): DataFrame = {
    val fs = Published.fsOf(loc)
    dvFiles.map { f =>
      val abs = fs.makeQualified(new HPath(loc, f.path)).toString
      Published.retryIO()(spark.read.schema(StructType(Seq(
        org.apache.spark.sql.types.StructField(DvPosCol, LongType,
          nullable = false)))).parquet(abs))
        .select(lit(dvTargetOf(f)).as(FileNameCol),
          col(DvPosCol).as(RowPosCol))
    }.reduce(_.unionByName(_))
  }

  /** The LOGICAL key rows a snapshot's deletion vectors doom —
    * resolved from the targeted files at the recorded positions. The
    * DSv2 catalog scan folds these into its key mask (its row readers
    * track no positions); O(targeted files) read, O(positions) out. */
  private[sources] def dvMaskKeys(spark: SparkSession, loc: HPath,
                                  m: SnapManifest): DataFrame = {
    val targetNames = m.dvs.map(dvTargetOf).toSet
    val targets = m.files.filter(f => targetNames.contains(fileNameOf(f.path)))
    readFiles(spark, loc, m, targets, withPos = true)
      .join(broadcast(readDvRows(spark, loc, m.dvs)),
        Seq(FileNameCol, RowPosCol), "left_semi")
      .select(m.keyCols.map(col): _*)
  }

  /** Subtract deletion vectors from a base frame that carries the
    * [[FileNameCol]]/[[RowPosCol]] working columns, and drop them.
    * Position-precise: no key hashing over the base side, just a
    * broadcast anti-join on (file, position). */
  private[sources] def dvApplyFrame(spark: SparkSession, loc: HPath,
                                    base: DataFrame,
                                    dvFiles: Seq[SnapFile]): DataFrame =
    if (dvFiles.isEmpty) base.drop(FileNameCol, RowPosCol)
    else base.join(broadcast(readDvRows(spark, loc, dvFiles)),
      Seq(FileNameCol, RowPosCol), "left_anti")
      .drop(FileNameCol, RowPosCol)

  /** The delete-flag and commit-order columns a merge-on-read delta
    * file carries beside the table's physical columns. Reserved (like
    * the staging column `_b`): a user column by either name would be
    * shadowed in every delta file. */
  private[graft] val MorDelCol = "_graft_del"
  private[graft] val MorSeqCol = "_graft_seq"
  /** A deletion-vector file's single column: the doomed row's position
    * (parquet row index) within the DV's target base file. */
  private[graft] val DvPosCol = "_graft_pos"
  /** Working columns the position-apply threads through a base read:
    * the serving file's NAME and the row's index within it. */
  private[graft] val FileNameCol = "__graft_fn"
  private[graft] val RowPosCol = "__graft_rp"
  private[graft] val ReservedCols = Seq("_b", MorDelCol, MorSeqCol, DvPosCol)

  /** The `extra` key naming a DV entry's target base file (by file
    * NAME — unique under `data/` by the promote naming scheme). */
  private[graft] val DvTargetKey = "__graft_target"
  private[graft] def dvTargetOf(f: SnapFile): String =
    f.extra.getOrElse(DvTargetKey,
      sys.error(s"snap: DV entry ${f.path} carries no target"))._1
  private[graft] def fileNameOf(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** The format's namespace discipline: `_b` is the staging partition
    * column, and the `_graft_`/`__graft_` prefixes carry delta-file
    * meta columns and in-plan working columns (latest-wins row
    * numbers, changelog old-image aliases, IVM signs). A user column
    * under any of them would be silently shadowed by withColumn in
    * some read path — the `_b` hazard generalized (r19 review
    * finding) — so schema entry points refuse the whole prefix. */
  private[graft] def assertLegalColName(n: String): Unit = {
    require(n != "_b",
      "snap: column name '_b' is reserved for staging — rename it")
    require(!n.startsWith("_graft_") && !n.startsWith("__graft_"),
      s"snap: column name '$n' is reserved (the _graft_/__graft_ " +
        "prefixes carry the format's meta and working columns)")
  }

  /** Read merge-on-read delta files back in the table's LOGICAL
    * schema plus the two meta columns. Explicit physical schema, same
    * discipline as [[readFiles]]. */
  private def readDeltaFiles(spark: SparkSession, loc: HPath,
                             m: SnapManifest,
                             files: Seq[SnapFile]): DataFrame = {
    val metaFields = Seq(
      org.apache.spark.sql.types.StructField(MorDelCol,
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField(MorSeqCol, LongType,
        nullable = false))
    val physSchema = StructType(
      m.schema.fields.map(f => f.copy(name = m.physicalOf(f.name))) ++
        metaFields)
    val fs = Published.fsOf(loc)
    val abs = files.map(f => fs.makeQualified(new HPath(loc, f.path)).toString)
    Published.retryIO()(spark.read.schema(physSchema).parquet(abs: _*))
      .select((m.schema.fields.map(f =>
        col(m.physicalOf(f.name)).as(f.name)) ++
        Seq(col(MorDelCol), col(MorSeqCol))).toSeq: _*)
  }

  /** Merge-on-read resolution: the base files with the delta files
    * applied — latest delta wins per key (ordered by committing
    * version), a winning delete drops the key, every delta key masks
    * its base row. The delta side is SMALL by design (that is what
    * makes MOR commits O(delta)), so AQE broadcasts the key mask and
    * the base side never shuffles; the latest-wins window shuffles
    * only delta rows. With no deltas this IS the plain base read —
    * zero overhead for copy-on-write tables. */
  private[sources] def morApplied(spark: SparkSession, loc: HPath, m: SnapManifest,
                         baseFiles: Seq[SnapFile],
                         deltaFiles: Seq[SnapFile],
                         dvFiles: Seq[SnapFile]): DataFrame = {
    val names = baseFiles.map(f => fileNameOf(f.path)).toSet
    val relevant = dvFiles.filter(v => names.contains(dvTargetOf(v)))
    val base =
      if (relevant.isEmpty) readFiles(spark, loc, m, baseFiles)
      else dvApplyFrame(spark, loc,
        readFiles(spark, loc, m, baseFiles, withPos = true), relevant)
    morApplyFrame(spark, loc, m, base, deltaFiles)
  }

  /** The same apply over an arbitrary base frame in the table's
    * logical schema — the SQL entry ([[SnapSql]]) feeds its pruning
    * relation through here. */
  private[sources] def morApplyFrame(spark: SparkSession, loc: HPath,
                                     m: SnapManifest, base: DataFrame,
                                     deltaFiles: Seq[SnapFile]): DataFrame = {
    if (deltaFiles.isEmpty) base
    else {
      val d = readDeltaFiles(spark, loc, m, deltaFiles)
      val keyEx = m.keyCols.map(col)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyEx: _*).orderBy(col(MorSeqCol).desc)
      val latest = d.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1)
      val upserts = latest.filter(!col(MorDelCol))
        .select(m.schema.fieldNames.map(col).toSeq: _*)
      base.join(d.select(keyEx: _*), m.keyCols, "left_anti")
        .unionByName(upserts)
    }
  }

  /** Read a snapshot: head by default, a pinned version for time
    * travel. The returned plan scans exactly the manifest's files
    * (base + outstanding merge-on-read deltas, applied) — immutable,
    * so the frame stays valid while later commits land. */
  def read(spark: SparkSession, loc: HPath,
           asOf: Option[Int] = None): DataFrame = {
    val m = asOf.map(atVersion(spark, loc, _)).getOrElse(
      head(spark, loc).getOrElse(sys.error(s"snap $loc: no committed version")))
    morApplied(spark, loc, m, m.files, m.deltas, m.dvs)
  }

  /** Stats-pruned range scan over the key: plan only the files whose
    * [min,max] intersects [lo,hi] (closed), apply the residual
    * predicate inside them. Returns (frame, filesPlanned, filesTotal)
    * so callers can audit the skip rate. On a `range`-layout table the
    * per-file ranges are tight and disjoint-ish; on `hash` layout every
    * file spans the key space and this degrades to a full scan —
    * that trade is the point of carrying both layouts. */
  def prunedScan(spark: SparkSession, loc: HPath, lo: Long, hi: Long,
                 asOf: Option[Int] = None): (DataFrame, Int, Int) = {
    val m = asOf.map(atVersion(spark, loc, _)).getOrElse(
      head(spark, loc).getOrElse(sys.error(s"snap $loc: no committed version")))
    require(m.keyKind == "long", s"prunedScan needs a long key, got ${m.keyKind}")
    val chosen = m.files.filter(f => f.max.toLong >= lo && f.min.toLong <= hi)
    // delta files prune by the SAME key range: a delta row's key is its
    // identity, so every delta touching an in-range key has a range
    // intersecting [lo,hi] — the latest-wins fold stays complete for
    // every surfaced key (out-of-range winners die in the residual)
    val dChosen = m.deltas.filter(f => f.max.toLong >= lo && f.min.toLong <= hi)
    val df = morApplied(spark, loc, m, chosen, dChosen, m.dvs)
      .filter(col(m.bucketCol) >= lo && col(m.bucketCol) <= hi)
    (df, chosen.size + dChosen.size, m.files.size + m.deltas.size)
  }

  /** Stats-pruned scan on ANY dimension the manifest carries per-file
    * stats for: the bucket column (primary stats) or a declared stats /
    * zorder column (`extra` stats). Files without a recorded range for
    * the column are KEPT — pruning never skips on a guess. On a zorder
    * table both key dimensions prune partially (each bucket is a
    * z-tile, so its per-file ranges cover ~1/√buckets of either
    * dimension — the q88 zone-map lesson as an actual layout); on a
    * range table the bucket column prunes tightly and secondary
    * columns prune only as well as they correlate with it. Returns
    * (frame, filesPlanned, filesTotal). */
  def prunedScanBy(spark: SparkSession, loc: HPath, colName: String,
                   lo: Long, hi: Long,
                   asOf: Option[Int] = None): (DataFrame, Int, Int) = {
    val m = asOf.map(atVersion(spark, loc, _)).getOrElse(
      head(spark, loc).getOrElse(sys.error(s"snap $loc: no committed version")))
    require(colName == m.bucketCol || m.effectiveStatsCols.contains(colName),
      s"snap $loc: no per-file stats for '$colName' (bucket column or " +
        s"declared stats columns: ${(m.bucketCol +: m.effectiveStatsCols)
          .mkString(", ")})")
    require(keyKindOf(m.schema(colName).dataType) == "long",
      s"prunedScanBy needs an integral column, got $colName")
    val physName = m.physicalOf(colName)
    val chosen = m.files.filter { f =>
      val range =
        if (colName == m.bucketCol) Some((f.min, f.max))
        else f.extra.get(physName)
      range.forall { case (mn, mx) => mx.toLong >= lo && mn.toLong <= hi }
    }
    // delta files prune only on the KEY dimension: a delete row carries
    // nothing but its key, so skipping a delta file on a VALUE column's
    // stats could resurrect a deleted base row — on any other dimension
    // every delta file is kept (they are small by design)
    val dChosen =
      if (colName == m.bucketCol)
        m.deltas.filter(f => f.max.toLong >= lo && f.min.toLong <= hi)
      else m.deltas
    val df = morApplied(spark, loc, m, chosen, dChosen, m.dvs)
      .filter(col(colName) >= lo && col(colName) <= hi)
    (df, chosen.size + dChosen.size, m.files.size + m.deltas.size)
  }

  /** Table history — the operator-facing audit of the commit chain
    * (the DESCRIBE HISTORY shape the public formats expose): one row
    * per committed version within the retention horizon, from manifest
    * METADATA alone (never opens a data file at any table size).
    * `n_rows` sums the manifest's per-file counts — the MOR delta
    * files' rows are reported separately (`n_delta_rows` counts rows
    * STORED in outstanding delta files, which mask/replace base rows
    * at read time rather than adding to them). `rebased` flags commits
    * whose optimistic writer resolved an older base (base < parent). */
  def history(spark: SparkSession, loc: HPath): DataFrame = {
    val fs = Published.fsOf(loc)
    val rows = listManifests(fs, loc).flatMap { case (_, p) =>
      readDefinitive(fs, p).getOrElse(None) }.map { m =>
      (m.version, m.op, m.parent, m.resolvedBase,
        m.resolvedBase < m.parent,
        m.files.size.toLong, m.files.map(_.rows).sum,
        m.deltas.size.toLong, m.deltas.map(_.rows).sum,
        m.buckets, m.applied)
    }
    require(rows.nonEmpty, s"snap $loc: no committed version")
    import spark.implicits._
    rows.sortBy(_._1).toDF("version", "op", "parent", "base", "rebased",
      "n_files", "n_rows", "n_deltas", "n_delta_rows", "buckets", "applied")
  }

  /** Retention audit — SEE the vacuum horizon before it bites: what a
    * `vacuum(keepVersions)` would keep and reclaim, computed from
    * manifest metadata plus one `data/` listing, deleting NOTHING and
    * taking no lease (a read). Returns one row: total/kept committed
    * versions, the oldest version that would stay readable,
    * manifests+data files reclaimable, and the reclaimable bytes. */
  def retention(spark: SparkSession, loc: HPath,
                keepVersions: Int = 2): DataFrame = {
    require(keepVersions >= 1, "must keep at least the head")
    val fs = Published.fsOf(loc)
    val valid = listManifests(fs, loc).flatMap { case (v, p) =>
      readDefinitive(fs, p).getOrElse(None).map(m => (v, m)) }
    require(valid.nonEmpty, s"snap $loc: nothing committed to audit")
    val kept = valid.take(keepVersions)
    val live = kept.flatMap(m =>
      (m._2.files ++ m._2.deltas ++ m._2.dvs).map(_.path)).toSet ++
      SnapBranch.allBranchManifests(fs, loc)
        .flatMap(p => readDefinitive(fs, p).getOrElse(None))
        .flatMap(m => (m.files ++ m.deltas ++ m.dvs).map(_.path))
    val dataDir = new HPath(loc, "data")
    var reclaimFiles = 0
    var reclaimBytes = 0L
    if (Published.exists(fs, dataDir))
      Published.retryIO()(fs.listStatus(dataDir)).foreach { st =>
        if (!live.contains("data/" + st.getPath.getName)) {
          reclaimFiles += 1; reclaimBytes += st.getLen
        }
      }
    import spark.implicits._
    Seq((valid.size.toLong, kept.size.toLong,
      kept.map(_._1).min.toLong, (valid.size - kept.size).toLong,
      reclaimFiles.toLong, reclaimBytes))
      .toDF("versions_total", "versions_kept", "oldest_readable_version",
        "manifests_reclaimable", "files_reclaimable", "bytes_reclaimable")
  }

  // ------------------------------------------------------ write paths

  /** The bucket-assignment expression every write shape shares; `name`
    * maps a logical column to the name it carries in the frame being
    * bucketed (identity on the merge-planning side, physicalOf on the
    * staging side). Hash layout: murmur3 pmod — stable, co-locating.
    * Range layout: monotone map of [rangeMin,rangeMax] onto bucket
    * ids, edges clamped so later deltas outside the create-time range
    * still land in a bucket. Zorder layout: both key dimensions scale
    * to 16 bits, interleave through the native `graft_zorder` Morton
    * code, and the 32-bit z-value range-maps onto bucket ids — a
    * bucket holds a z-contiguous tile of the (dim1, dim2) plane, so
    * per-file stats stay selective on BOTH dimensions (the q88 lesson
    * promoted into the format). Merge stays sound because zorder is
    * restricted to KEY columns: a delta row's bucket is a function of
    * its immutable key, so its pre-image can never hide in an
    * unrewritten bucket. */
  private def bucketExpr(m: SnapManifest, name: String => String) =
    m.layout match {
      case "hash" => pmod(hash(col(name(m.bucketCol))), lit(m.buckets))
      case "range" =>
        val span = math.max(1L, m.rangeMax - m.rangeMin + 1L)
        least(lit(m.buckets - 1), greatest(lit(0),
          floor((col(name(m.bucketCol)).cast("long") - lit(m.rangeMin)) *
            lit(m.buckets.toLong) / lit(span))))
          .cast("int")
      case "zorder" =>
        def scaled(c: String, lo: Long, hi: Long) = {
          val span = math.max(1L, hi - lo + 1L)
          least(lit(65535L), greatest(lit(0L),
            floor((col(name(c)).cast("long") - lit(lo)) * lit(65536L) /
              lit(span)).cast("long")))
        }
        val z = call_function("graft_zorder",
          scaled(m.bucketCol, m.rangeMin, m.rangeMax),
          scaled(m.z2, m.z2Min, m.z2Max))
        least(lit(m.buckets - 1), greatest(lit(0),
          floor(z * lit(m.buckets.toLong) / lit(4294967296L)).cast("int")))
          .cast("int")
      case other => sys.error(s"snap: unknown layout $other")
    }

  /** Per-bucket stats read back from staged bytes: row count, bucket-
    * column [min,max], and the declared stats columns' [min,max]
    * (absent where a column was all-null in the bucket). */
  private final case class BStats(rows: Long, mn: String, mx: String,
                                  extra: Map[String, (String, String)])

  /** A staged-but-not-yet-promoted write: the private stage dir, the
    * per-bucket part files inside it, the stats read back from the
    * staged bytes, and the liveness heartbeat protecting the dir from
    * vacuum's debris sweep. Promotion (the per-bucket moves into
    * `data/`) is a separate, lease-held step so an optimistic writer
    * can stage WITHOUT the lease and discard cheaply on a lost race. */
  private final case class Staged(stage: HPath,
                                  parts: Seq[(Int, HPath)],
                                  stats: Map[Int, BStats],
                                  heartbeat: StageHeartbeat) {
    def isEmpty: Boolean = parts.isEmpty
  }

  /** Liveness heartbeat for a stage dir: rewrites `stage/_live` every
    * leaseStaleMs/4 so [[vacuum]]'s stage sweep can tell a LIVE
    * leaseless stager from a dead writer's debris by marker age alone
    * (r18 advice: staging is the explicitly-unbounded phase — a big
    * rewrite plus the stats read-back can outlive leaseStaleMs, and
    * the dir's own mtime stops updating once the write job commits, so
    * a rival's (auto)vacuum could sweep a healthy optimistic writer's
    * files and fail its promote). A REWRITE, not setTimes: the s3 sim
    * pins setTimes as a silent no-op — object stores refresh mtime
    * only on PUT. kill -9 stops the thread with the writer, so the
    * marker ages out and the sweep proceeds — stale detection latency
    * unchanged for real crashes. Underscore-prefixed, so the staged-
    * stats parquet read treats it as hidden. */
  private[graft] final class StageHeartbeat(fs: FileSystem, stage: HPath) {
    private val marker = new HPath(stage, "_live")
    @volatile private var stopped = false
    private val t = new Thread(() => {
      while (!stopped) {
        try {
          // re-check IMMEDIATELY before the write pair: stop() joins
          // with a bounded wait and Thread.interrupt cannot cancel
          // blocking filesystem I/O, so a tick that was stuck in a
          // hung store call when stop() gave up could otherwise wake
          // and recreate the dir the caller just deleted (r19 advice)
          if (stopped) ()
          else {
            // the staging job's Overwrite mode (and its retries) may
            // wipe the dir between ticks — recreate rather than assume
            fs.mkdirs(stage)
            scala.util.Using.resource(fs.create(marker, true))(
              _.write(java.lang.Long.toString(System.currentTimeMillis())
                .getBytes("UTF-8")))
            // the narrower race (stop() landed between the check and
            // the create): self-clean what this tick just wrote. The
            // non-recursive dir delete succeeds exactly in the
            // post-discard case — an empty recreated dir — and fails
            // harmlessly while staged parts still exist (promote /
            // discard owns that deletion).
            if (stopped) {
              try {
                fs.delete(marker, false)
                fs.delete(stage, false)
              } catch { case _: java.io.IOException => () }
            }
          }
        } catch { case _: java.io.IOException => () }
        try Thread.sleep(math.max(250L, Published.leaseStaleMs / 4))
        catch { case _: InterruptedException => stopped = true }
      }
    }, s"graft-stage-live-${stage.getName}")
    t.setDaemon(true)
    def start(): this.type = { t.start(); this }
    /** Stop and JOIN — callers delete the dir right after, and an
      * in-flight tick recreating it post-delete would leave debris
      * that only ages out. The join is bounded (a tick blocked in a
      * hung store call cannot be interrupted), so the loop ALSO
      * re-checks `stopped` around its write pair and self-cleans a
      * post-stop recreate — the timed-out case converges instead of
      * shielding debris behind a fresh `_live` marker for up to
      * leaseStaleMs. */
    def stop(): Unit = {
      stopped = true
      t.interrupt()
      try t.join(5000L)
      catch { case _: InterruptedException =>
        Thread.currentThread().interrupt() }
    }
  }

  /** Write `data`'s rows as one parquet file per non-empty bucket into
    * a token-private stage dir and return the staged parts + their
    * stats. The staging write is a normal Spark job (task retries
    * absorb store faults); the per-bucket stats come from reading the
    * STAGED bytes back (so stats always describe exactly what landed,
    * never a recomputed lineage), an O(delta) scan pruned to two
    * columns. Needs NO lease: the stage dir is private to this token
    * and nothing it writes is visible to readers. */
  private def stageWrite(spark: SparkSession, loc: HPath,
                         m: SnapManifest, data: DataFrame,
                         version: Int, token: String,
                         gate: () => Unit,
                         metaCols: Seq[(String, org.apache.spark.sql.Column)] =
                           Seq.empty,
                         recordExtraStats: Boolean = true): Staged = {
    val fs = Published.fsOf(loc)
    val stage = new HPath(loc, s"stage-v$version-$token")
    val heartbeat = new StageHeartbeat(fs, stage).start()
    try {
    // bytes land under PHYSICAL names (stable across renames — the
    // metadata-only rename contract); `data` arrives logical.
    // `metaCols` ride along verbatim (the merge-on-read delta files'
    // delete flag + commit order — reserved names, never remapped).
    val physData =
      data.select((m.schema.fieldNames.map(n =>
        col(n).as(m.physicalOf(n))) ++
        metaCols.map { case (n, c) => c.as(n) }).toSeq: _*)
    val physBucket = m.physicalOf(m.bucketCol)
    val stamped = physData
      .withColumn("_b", bucketExpr(m, m.physicalOf))
    // Per-bucket stats: aggregate on the TYPED column, stringify after
    // — a cast-first min over longs would be lexicographic ("10" < "9")
    // and corrupt every pruning decision. The declared stats columns
    // ride the SAME pass. (delta files skip them: value-column pruning
    // must never skip a delta file — a delete row carries only its key)
    val extraCols =
      if (recordExtraStats) m.effectiveStatsCols else Seq.empty
    // FUSED write+stats (r21, guide §1.2): the stats ride the write job
    // itself as observed metrics — one conditional min/max/count triple
    // per bucket — instead of a separate read-back job over the staged
    // bytes. The observe node sits ABOVE the repartition exchange, i.e.
    // in the write's RESULT stage, where Spark's once-per-task
    // accumulator guarantee applies (and task failures report nothing),
    // so the observed values describe exactly the rows the committed
    // tasks wrote — the same "what landed" contract the read-back gave.
    // Speculation must stay off for staging (it already must: committer
    // v2 task commits are non-atomic into the private stage dir), which
    // the require below pins. Very wide tables fall back to the
    // read-back job: O(buckets × statsCols) aggregate expressions would
    // blow up analysis/codegen, and at that width the extra job is
    // amortized by data volume anyway.
    val fuseStats = m.buckets * (3 + 2 * extraCols.size) <= 512
    require(!spark.conf.get("spark.speculation", "false").toBoolean,
      "snap staging requires spark.speculation=false (non-atomic " +
        "committer-v2 task commits into the stage dir, and the fused " +
        "write+stats observation, both assume one attempt per task)")
    def obsAggsOf: Seq[org.apache.spark.sql.Column] =
      (0 until m.buckets).flatMap { b =>
        val in = col("_b") === lit(b)
        Seq(count(when(in, lit(1))).as(s"r$b"),
          min(when(in, col(physBucket))).cast("string").as(s"mn$b"),
          max(when(in, col(physBucket))).cast("string").as(s"mx$b")) ++
          extraCols.zipWithIndex.flatMap { case (c, i) =>
            val pc = m.physicalOf(c)
            Seq(min(when(in, col(pc))).cast("string").as(s"emn${b}_$i"),
              max(when(in, col(pc))).cast("string").as(s"emx${b}_$i"))
          }
      }
    // repartition BY _b: each bucket value lands in one task, so
    // partitionBy emits exactly one file per non-empty bucket — file
    // count stays O(buckets) per commit, never O(tasks × buckets)
    // WHOLE-JOB retry on transient store faults (the publish chain's
    // r16 lesson, surfaced again by this round's campaign): the Spark
    // job-commit protocol's DRIVER-side ops — the committer's listing,
    // its per-file rename (copy+delete on the object-store sim), the
    // temporary-dir cleanup — are outside both task retries and our
    // per-op policy, so one blip killed the whole staging job. The
    // write is Overwrite-mode into a private stage dir: re-running it
    // from scratch is idempotent (a retry attempt gets a FRESH
    // observation — stats always come from the attempt that landed).
    // The successful attempt's listing is captured alongside the stats
    // — no re-listing on the hot path.
    val (dirs, statSeq) =
      Published.retryJobIO(s"snap staging of $stage", gate) {
        val obs =
          if (fuseStats) Some(org.apache.spark.sql.Observation())
          else None
        val toWrite = obs match {
          case Some(o) =>
            val aggs = obsAggsOf
            stamped.repartition(col("_b")).observe(o, aggs.head, aggs.tail: _*)
          case None => stamped.repartition(col("_b"))
        }
        // committer v2 + no _SUCCESS for the STAGE write only: the dir
        // is token-private and the whole job retries from scratch, so
        // v1's job-commit rename pass (and the marker) buy nothing here
        // — they are per-commit fs chatter (object-store renames are
        // copies). Visibility/atomicity live in promoteStaged + the
        // manifest, never in the committer.
        traced("stage.write")(
          toWrite
            .write.mode(SaveMode.Overwrite).partitionBy("_b")
            .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .parquet(fs.makeQualified(stage).toString))
        val dirList = fs.listStatus(stage)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("_b="))
          .sortBy(_.getPath.getName)
        val st =
          if (dirList.isEmpty) Array.empty[(Int, BStats)]
          else obs match {
            case Some(o) =>
              val got = traced("stage.statsObserved")(o.get)
              (0 until m.buckets).flatMap { b =>
                val rows = got(s"r$b").asInstanceOf[Long]
                if (rows == 0L) None
                else {
                  val extra = extraCols.zipWithIndex.flatMap { case (c, i) =>
                    val emn = got(s"emn${b}_$i").asInstanceOf[String]
                    val emx = got(s"emx${b}_$i").asInstanceOf[String]
                    // all-null column in this bucket: no entry — pruning
                    // treats the file as unknown, never skips on a guess
                    if (emn == null || emx == null) None
                    else Some(m.physicalOf(c) -> (emn, emx))
                  }.toMap
                  Some(b -> BStats(rows, got(s"mn$b").asInstanceOf[String],
                    got(s"mx$b").asInstanceOf[String], extra))
                }
              }.toArray
            case None =>
              val aggs = Seq(count(lit(1)).as("rows"),
                min(col(physBucket)).cast("string").as("mn"),
                max(col(physBucket)).cast("string").as("mx")) ++
                extraCols.zipWithIndex.flatMap { case (c, i) =>
                  val pc = m.physicalOf(c)
                  Seq(min(col(pc)).cast("string").as(s"emn$i"),
                    max(col(pc)).cast("string").as(s"emx$i"))
                }
              // explicit schema (the exact frame the write job landed):
              // skips the footer-sampling inference pass the bare read
              // pays per commit
              traced("stage.statsReadback")(
                spark.read.schema(stamped.schema)
                  .parquet(fs.makeQualified(stage).toString)
                  .groupBy(col("_b"))
                  .agg(aggs.head, aggs.tail: _*)
                  .collect()) // ≤ buckets rows — bounded driver metadata
                .map { r =>
                  val extra = extraCols.zipWithIndex.flatMap { case (c, i) =>
                    val emn = r.getAs[String](s"emn$i")
                    val emx = r.getAs[String](s"emx$i")
                    if (emn == null || emx == null) None
                    else Some(m.physicalOf(c) -> (emn, emx))
                  }.toMap
                  r.getAs[Int]("_b") -> BStats(r.getAs[Long]("rows"),
                    r.getAs[String]("mn"), r.getAs[String]("mx"), extra)
                }
          }
        (dirList, st)
      }
    if (statSeq.isEmpty) {
      // every staged row vanished (e.g. a delete-only delta whose keys
      // covered a whole rewrite set): nothing to move, nothing to read
      heartbeat.stop()
      Published.retryIO(gate)(fs.delete(stage, true))
      return Staged(stage, Seq.empty, Map.empty, heartbeat)
    }
    val stats = statSeq.toMap
    // null-key backstop: a bucket of all-null keys has null min/max —
    // committing it would NPE in the manifest render after the files
    // moved; fail BEFORE moving anything (orphan-free abort)
    stats.foreach { case (b, st) =>
      require(st.mn != null && st.mx != null,
        s"snap: bucket $b holds null-keyed rows — key columns must be " +
          "non-null (nulls neither match deletes nor carry stats)")
    }
    val parts = dirs.toSeq.map { d =>
      val b = d.getPath.getName.stripPrefix("_b=").toInt
      val leaves = Published.retryIO(gate)(fs.listStatus(d.getPath))
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
      // one file per bucket by construction (repartition by _b), so
      // per-bucket stats ARE per-file stats — enforce before promoting
      require(leaves.length == 1,
        s"snap staging produced ${leaves.length} files for bucket $b — " +
          "the repartition(_b) single-file invariant broke")
      (b, leaves.head.getPath)
    }
    // probe hook: widen the (leaseless, for mergeOcc) staging window so
    // the cross-JVM race asserts real wall-clock overlap
    occStageHold()
    Staged(stage, parts, stats, heartbeat)
    // a throw anywhere above must not leak the heartbeat: a daemon
    // thread refreshing a dead stage dir would shield the debris from
    // vacuum for this JVM's whole life
    } catch { case t: Throwable => heartbeat.stop(); throw t }
  }

  /** Promote a staged write: move the per-bucket part files to their
    * flat immutable names under `data/` and return the manifest
    * entries. MUST run under the table lease (every caller's `gate` is
    * [[Published.assertLeaseOwned]]): promotion makes bytes visible at
    * committable names, and the lease is what keeps vacuum's
    * unreferenced-file sweep from racing the moves. Flat names keep
    * later explicit-file reads free of partition discovery; `version`
    * is the FINAL commit version (an optimistic writer that rebased
    * promotes under the rebased version, so names stay unique — one
    * promoter at a time, one version per commit). A crash anywhere
    * here leaves only unreferenced files (vacuum sweeps them). */
  private def promoteStaged(fs: FileSystem, loc: HPath, staged: Staged,
                            version: Int, gate: () => Unit,
                            filePrefix: String = "b"): Seq[SnapFile] = {
    if (staged.isEmpty) return Seq.empty
    // lease held from here on (every caller's gate) — vacuum can no
    // longer race this dir, so the liveness marker has done its job
    staged.heartbeat.stop()
    // a contract-compliant FileSystem rename fails when the destination
    // parent is missing (the local sims mask this by copy-fallback —
    // review finding, r17): make data/ exist before the first move
    Published.retryIO(gate)(fs.mkdirs(new HPath(loc, "data")))
    val out = staged.parts.map { case (b, part) =>
      val name = s"data/v$version-$filePrefix$b-0.parquet"
      Published.moveResumable(fs, part, new HPath(loc, name), gate)
      val st = staged.stats(b)
      SnapFile(name, b, st.rows, st.mn, st.mx, st.extra)
    }
    Published.retryIO(gate)(fs.delete(staged.stage, true))
    out
  }

  /** Stage + promote in one lease-held step — the serialized writers'
    * path (create, merge, optimize). */
  private[sources] def stageDataFiles(spark: SparkSession, loc: HPath,
                             m: SnapManifest, data: DataFrame,
                             version: Int, token: String,
                             gate: () => Unit,
                             filePrefix: String = "b"): Seq[SnapFile] =
    promoteStaged(Published.fsOf(loc), loc,
      stageWrite(spark, loc, m, data, version, token, gate), version, gate,
      filePrefix = filePrefix)

  /** Commit a rendered manifest at its version path, resolving create
    * ambiguity the lease-acquire way: a create that faults (the PUT may
    * have landed) or loses reads the file back — OUR writer token means
    * the commit landed; a rival's valid manifest is a [[SnapConflict]];
    * a TORN manifest at our version is a dead writer's mid-create crash
    * (no live rival can exist under the lease) — sweep it and retry. */
  private[graft] def commitManifest(fs: FileSystem, loc: HPath, m: SnapManifest,
                             gate: () => Unit): Unit =
    commitManifestAt(fs, loc, manifestPath(loc, m.version), m, gate)

  /** The same landed/rival/torn-resolving commit against an EXPLICIT
    * path — branch refs commit through here ([[SnapBranch]]). */
  private[sources] def commitManifestAt(fs: FileSystem, loc: HPath,
                                        p: HPath, m: SnapManifest,
                                        gate: () => Unit): Unit = {
    val bytes = render(m)
    var attempt = 0
    while (true) {
      gate()
      val won =
        try Some(Published.createNewAtomic(fs, p, bytes))
        catch { case e: java.io.IOException =>
          attempt += 1
          if (attempt >= Published.storeOpAttempts) throw e
          None
        }
      won match {
        case Some(true) => return
        case _ =>
          // readDefinitive: unreadable-but-present throws — sweeping on
          // a read blip could delete our own (or, past a stale-break, a
          // rival's) LANDED commit
          readDefinitive(fs, p) match {
            case Right(Some(cur)) if cur.writer == m.writer =>
              return // our landed PUT
            case Right(Some(cur)) =>
              throw new SnapConflict(s"snap $loc version ${m.version} was " +
                s"committed by rival '${cur.writer}' — this writer resolved " +
                "a stale head (lease must have been broken); aborting")
            case Right(None) =>
              // DEFINITIVELY torn (read landed, checksum absent): a dead
              // writer's partial create. Under the lease nobody live
              // owns it — re-check ownership, sweep, retake the version.
              gate()
              Published.deleteIfExists(fs, p)
              attempt += 1
              if (attempt >= Published.storeOpAttempts)
                sys.error(s"snap $loc: manifest ${m.version} stayed " +
                  "torn after sweeps — store faulting hard")
            case Left(_) => // absent: our create faulted pre-claim; retry
          }
          try Thread.sleep(25L * math.max(1, attempt))
          catch { case _: InterruptedException =>
            Thread.currentThread().interrupt()
            sys.error(s"snap $loc: interrupted mid-commit of v${m.version}")
          }
      }
    }
  }

  private[sources] def newToken(): String =
    java.lang.Long.toHexString(
      graft.expressions.GraftHash.h60(
        (java.lang.ProcessHandle.current().pid().toString + ":" +
          Thread.currentThread().getId + ":" + System.nanoTime())
          .getBytes("UTF-8")))

  /** Create version 1. `layout="range"` computes the bucket range from
    * the data (two-value collect); "hash" needs none. Idempotent per
    * `tag`: an existing head with the same tag is left alone, a
    * DIFFERENT tag is a loud error (the table exists with other
    * lineage — the caller decides to [[drop]] it, never this code). */
  def create(spark: SparkSession, loc: HPath, data: DataFrame,
             keyCols: Seq[String], bucketCol: String, buckets: Int,
             layout: String = "hash", tag: String = "",
             applied: Long = -1L,
             statsCols: Seq[String] = Seq.empty,
             zorderBy: String = ""): Unit = {
    require(Seq("hash", "range", "zorder").contains(layout),
      s"bad layout $layout")
    require(keyCols.contains(bucketCol), "bucketCol must be a key column")
    val kind = keyKindOf(data.schema(bucketCol).dataType) // loud on unsupported
    // range/zorder layouts REQUIRE ordered long dimensions: a string
    // bucket column would cast("long") to null in bucketExpr,
    // greatest(0, null) = 0, and every row would silently land in
    // bucket 0 with (0,0) stats — a single-bucket table with no
    // pruning and no error until a later prunedScan (r17 advice).
    // Refuse at creation, like prunedScan does.
    require(layout == "hash" || kind == "long",
      s"snap: layout=$layout needs an integral bucket column, got $kind — " +
        "use layout=hash for string keys")
    if (layout == "zorder") {
      // the second dimension must be a KEY column: bucket assignment is
      // a function of (bucketCol, zorderBy), and only key columns are
      // immutable per row — a VALUE dimension would move a key's bucket
      // when the value changes and its pre-image could hide in an
      // unrewritten bucket (a silent duplicate key)
      require(zorderBy.nonEmpty && zorderBy != bucketCol &&
          keyCols.contains(zorderBy),
        "snap: layout=zorder needs zorderBy — a second KEY column " +
          "distinct from bucketCol")
      require(keyKindOf(data.schema(zorderBy).dataType) == "long",
        "snap: zorderBy must be an integral column")
    } else require(zorderBy.isEmpty,
      s"snap: zorderBy only applies to layout=zorder")
    // declared stats columns must exist and compare numerically — the
    // typed-compare discipline that keeps pruning non-lexicographic
    statsCols.foreach { c =>
      require(data.schema.fieldNames.contains(c), s"snap: no stats column $c")
      require(keyKindOf(data.schema(c).dataType) == "long",
        s"snap: stats column $c must be integral (string ranges do not " +
          "prune soundly)")
    }
    data.schema.fieldNames.foreach(assertLegalColName)
    Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
      head(spark, loc) match {
        case Some(h) =>
          if (h.tag == tag) ()
          else sys.error(s"snap $loc exists with tag '${h.tag}' != '$tag' — " +
            "drop it explicitly before re-creating with new lineage")
        case None =>
          // one materialization of the caller's data lineage: the
          // bounds collect and the staging write would otherwise each
          // re-run it
          val held = new Held(data)
          val dataP = held.frame
          try {
            // every needed dimension bound in ONE job (a zorder create
            // used to pay two)
            val dims = (if (layout == "hash") Seq.empty[String]
                        else Seq(bucketCol)) ++
              (if (layout == "zorder") Seq(zorderBy) else Seq.empty)
            val bounds: Map[String, (Long, Long)] =
              if (dims.isEmpty) Map.empty
              else {
                val aggs = dims.flatMap(c =>
                  Seq(min(col(c).cast("long")).as(s"mn_$c"),
                    max(col(c).cast("long")).as(s"mx_$c")))
                val r = dataP.agg(aggs.head, aggs.tail: _*).head
                dims.zipWithIndex.map { case (c, i) =>
                  c -> (if (r.isNullAt(2 * i)) (0L, 0L)
                        else (r.getLong(2 * i), r.getLong(2 * i + 1)))
                }.toMap
              }
            val (rMin, rMax) = bounds.getOrElse(bucketCol, (0L, 0L))
            val (z2Min, z2Max) = bounds.getOrElse(zorderBy, (0L, 0L))
            val token = newToken()
            val m0 = SnapManifest(1, 0, token, tag,
              data.schema.toDDL, keyCols, bucketCol, buckets, layout,
              rMin, rMax, Seq.empty, applied, "create", 0,
              Map.empty, Seq.empty, statsCols, zorderBy, z2Min, z2Max)
            val gate = () => Published.assertLeaseOwned(loc)
            val files = stageDataFiles(spark, loc, m0, dataP, 1, token, gate)
            graft.RestartKit.crashWindow("snapstage", SnapHaltEnv)
            commitManifest(Published.fsOf(loc), loc, m0.copy(files = files),
              gate)
          } finally held.release()
      }
    }
  }

  /** One materialization of a caller's frame for the span of a write —
    * the contract pass, the range collects and the staging write would
    * otherwise each re-run an arbitrarily expensive lineage. Persisted
    * (MEMORY_AND_DISK: spills rather than OOMs) only when the caller has
    * not already cached the plan, so [[release]] — in every writer's
    * `finally`, and before an auto-optimize that wants the executor
    * memory back — never evicts a cache entry the caller still owns. */
  private[sources] final class Held(df: DataFrame) {
    private val owned = df.storageLevel == StorageLevel.NONE
    val frame: DataFrame =
      if (owned) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    def release(): Unit = if (owned) { frame.unpersist(); () }
  }

  /** Copy-on-write MERGE: `delta` holds one row per key — full table
    * columns for upserts plus a boolean `deletedCol` (true rows only
    * need their key columns populated). Matched keys are replaced
    * (latest-wins), unmatched non-delete rows insert, `deletedCol`
    * rows vanish. Only files whose bucket AND key range can contain a
    * delta key are rewritten; everything else is carried by reference.
    *
    * `autoOptimize > 0` folds small files as part of the SAME lease
    * hold whenever the commit leaves any bucket holding that many live
    * files — the production story stays self-contained (the r16 KLL
    * lesson: a compactor nothing calls is an O(commits) store with
    * extra steps). Append-mostly CDC is where this bites: inserts past
    * the key range land as a NEW top-bucket file per merge (their
    * ranges never intersect the carried files), so a year of deltas is
    * a year of files until someone folds them.
    *
    * Returns the committed version (the optimize's, when one ran). */
  def merge(spark: SparkSession, loc: HPath, deltaIn: DataFrame,
            deletedCol: String = "_deleted", autoOptimize: Int = 0,
            appliedStamp: Option[Long] = None,
            autoVacuum: Int = 0): Int = {
    // validate BEFORE any commit: optimize refuses thresholds below 2,
    // and discovering that AFTER the merge's manifest landed would
    // report failure for a durably-committed delta (review finding)
    require(autoOptimize == 0 || autoOptimize >= 2,
      "autoOptimize must be 0 (off) or >= 2 (folding below 2 files/bucket " +
        "is a no-op)")
    require(autoVacuum >= 0, "autoVacuum must be 0 (off) or >= 1 (versions kept)")
    val held = new Held(deltaIn)
    try Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
      val m = traced("merge.head")(head(spark, loc).getOrElse(
        sys.error(s"snap $loc: merge into a table that never committed")))
      // the streaming replay guard lives HERE, on the same head read
      // the merge plans against (one manifest resolve per micro-batch):
      // a batch the high-water already covers was committed by a
      // previous attempt whose checkpoint commit was lost — skip it
      val v =
        if (appliedStamp.exists(_ <= m.applied)) m.version
        else mergeResolved(spark, loc, m, held, deletedCol, autoOptimize,
          appliedStamp)
      maybeAutoVacuum(spark, loc, autoVacuum)
      v
    } finally held.release()
  }

  /** Retention wired into the write path — the r16 "compactor nothing
    * calls" lesson applied to VERSIONS: a continuous CDC deployment
    * commits one version per batch forever, and a vacuum nobody
    * schedules means unbounded manifests + dead files. `autoVacuum=k`
    * keeps the newest k versions as part of the SAME lease hold the
    * commit ran under. Gated on a cheap manifest listing (one dir
    * list) so the data/ sweep — the O(table-files) part — only runs
    * when there is actually a version to drop; callers amortize
    * further with a cadence ([[graft.streaming.SnapCdc]]'s
    * `vacuumEvery`). */
  private def maybeAutoVacuum(spark: SparkSession, loc: HPath,
                              autoVacuum: Int): Unit =
    if (autoVacuum > 0 &&
        listManifests(Published.fsOf(loc), loc).size > autoVacuum) {
      vacuum(spark, loc, keepVersions = autoVacuum) // re-entrant lease
      ()
    }

  /** The merge contract's DRIVER-side half: full schema (names AND
    * types), a boolean delete flag that shadows nothing. */
  private def contractCheckSchema(m: SnapManifest, delta: DataFrame,
                                  deletedCol: String): Unit = {
    val schema = m.schema
    require(schema.fieldNames.forall(delta.columns.contains),
      s"delta is missing table columns: " +
        schema.fieldNames.filterNot(delta.columns.contains).mkString(","))
    // TYPES too, not just names (review finding): unionByName would
    // silently widen a mistyped column (double+string -> string), the
    // rewritten files would land with a type the manifest's schema
    // contradicts, and every later read of that DURABLY COMMITTED
    // version would throw — loud refusal BEFORE commit, like every
    // other contract guard here
    val mistyped = schema.fields.filter(f =>
      delta.schema(f.name).dataType != f.dataType)
    require(mistyped.isEmpty,
      "delta column types diverge from the table schema: " +
        mistyped.map(f => s"${f.name} (table ${f.dataType.simpleString}, " +
          s"delta ${delta.schema(f.name).dataType.simpleString})")
          .mkString(", "))
    require(delta.columns.contains(deletedCol),
      s"delta needs boolean column $deletedCol")
    require(!ReservedCols.contains(deletedCol),
      s"'$deletedCol' is a reserved column name — pass a different deletedCol")
    // a TABLE column by the flag's name would silently double as the
    // flag: upserts would store the (post-filter, all-false) flag as
    // that column's data in every rewritten file — refuse loudly, the
    // caller picks a different deletedCol (r18 review finding)
    require(!schema.fieldNames.contains(deletedCol),
      s"the table schema already has a column named '$deletedCol' — pass " +
        "a different deletedCol (the delete flag may not shadow data)")
  }

  private def contractMsg(deletedCol: String): String =
    "delta carries duplicate keys, null keys, or a null " +
      s"$deletedCol flag — resolve to one non-null-keyed row per key with " +
      "an explicit true/false delete flag before merging"

  /** What the contract pass learned of a delta: the per-bucket key
    * ranges (typed min/max of `bucketCol` over every delta row, deleted
    * rows included, stringified as `cast(string)` does — the planning
    * metadata that makes the rewrite set file-granular), the exact row
    * count, and, when the driver path ran, the delta's keys as the
    * driver holds them: UnsafeRows of `keyType`, float keys normalized. */
  private[graft] final case class ContractInfo(
      ranges: Map[Int, (String, String)], deltaRows: Long,
      keyRows: Option[(StructType, Seq[InternalRow])]) {

    /** The driver path's keys as a local relation over the held rows —
      * built on demand, so a write that joins nothing against the keys
      * ([[mergeMor]]) never pays for it. */
    def localKeys(spark: SparkSession): Option[DataFrame] =
      keyRows.map { case (keyType, rows) =>
        new ClassicDataset[Row](ClassicConversions.castToImpl(spark),
          LocalRelation(DataTypeUtils.toAttributes(keyType), rows),
          Encoders.row(keyType))
      }
  }

  /** The merge contract, refused loudly BEFORE anything plans or
    * stages: full schema (names AND types), a boolean delete flag, one
    * non-null-keyed row per key with a non-null flag — checked by
    * [[contractPass]], which also returns the planning metadata. */
  private[sources] def mergeContract(spark: SparkSession, m: SnapManifest,
                                     delta: DataFrame,
                                     deletedCol: String): ContractInfo = {
    contractCheckSchema(m, delta, deletedCol)
    contractPass(spark, m, delta, Some(deletedCol), contractMsg(deletedCol))
  }

  /** UnsafeRow-ish size of one delta key row: per-field default size +
    * 16B row overhead — the estimate the contract pass's driver bound,
    * and with it the anti-join's broadcast hint, is taken against. */
  private def keyRowBytes(m: SnapManifest): Long =
    m.keyCols.map(k => m.schema(k).dataType.defaultSize.toLong).sum + 16L

  /** Do `rows` delta keys fit the session's broadcast threshold? */
  private def keysFitBroadcast(m: SnapManifest, rows: Long): Boolean = {
    val threshold = org.apache.spark.sql.internal.SQLConf.get
      .autoBroadcastJoinThreshold
    threshold > 0 && rows * keyRowBytes(m) <= threshold
  }

  /** Key types whose UnsafeRow bytes are equal exactly when Spark's
    * hash group-by calls the values equal (floats and doubles once
    * [[normalizedKey]] has run). Any other key type — nested, collated
    * strings, intervals — takes the distributed contract path. */
  private def driverKeyType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType | BinaryType | _: DecimalType => true
    case st: StringType => st == StringType
    case _ => false
  }

  /** -0.0 → 0.0 and one NaN, as the group-by's own float normalization
    * does, so byte equality of the driver's key rows is group-by
    * equality. Other types pass through. */
  private def normalizedKey(c: Column, dt: DataType): Column = dt match {
    case FloatType | DoubleType =>
      when(isnan(c), lit(Double.NaN).cast(dt))
        .when(c === lit(0), lit(0).cast(dt)).otherwise(c)
    case _ => c
  }

  /** The contract's data pass and the per-bucket ranges, for every snap
    * write ([[merge]], [[mergeOcc]], [[mergeMor]], [[deleteVector]],
    * [[SnapBranch.merge]]): one non-null-keyed row per key and, when
    * `deletedCol` is given, a non-null delete flag — `filter(!col)`
    * would silently DROP a flag=NULL row from the upserts while its key
    * still anti-joins the existing row away. A violation refuses with
    * `refusal` before the ranges are used, so it never plans.
    *
    * Driver path, tried whenever the threshold is on and the key types
    * allow it: ONE Spark job collects the projection (key columns,
    * `isnull(flag)`, [[bucketExpr]]). Spark evaluates the projection,
    * so bucket assignment is the staging write's own expression. The
    * driver then checks the contract (key equality is UnsafeRow byte
    * equality over normalized keys — the hash group-by's equality),
    * folds the ranges and counts the rows, and the same rows become
    * the anti-join's broadcast side as a local relation instead of a
    * second scan of the delta.
    *
    * The bound is on what the whole job returns, not on one partition:
    * each of the delta's P partitions may charge at most budget / P,
    * a row costing its [[keyRowBytes]] estimate or its real key bytes,
    * whichever is larger. The budget is the broadcast threshold — so
    * with fixed-width keys the path holds no delta whose
    * rows × [[keyRowBytes]] exceed it — capped at a quarter of
    * `spark.driver.maxResultSize` (a projected row weighs up to about
    * twice its charge). A partition past its share stops reading and
    * reports overflow; the job then returns at most about twice the
    * budget, however many partitions the delta has, and the pass falls
    * back. A small delta skewed into one of many partitions overflows
    * too: it merges through the fallback, as before this path existed.
    *
    * Distributed path — the fallback, a disabled threshold (≤ 0) or a
    * key type outside [[driverKeyType]]: the two-level aggregation
    * (keys, then buckets) that collects ≤ buckets rows; min/max stay
    * distributive across the levels. A fallback costs one job more
    * than this path alone would; that job's scan also fills the held
    * delta's cache, which the aggregation then reads. */
  private[graft] def contractPass(spark: SparkSession, m: SnapManifest,
                                  delta: DataFrame, deletedCol: Option[String],
                                  refusal: String): ContractInfo = {
    val threshold = org.apache.spark.sql.internal.SQLConf.get
      .autoBroadcastJoinThreshold
    val resultCap = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val budget = if (resultCap > 0) math.min(threshold, resultCap / 4)
      else threshold
    val local =
      if (budget > 0 && m.keyCols.forall(k => driverKeyType(delta.schema(k).dataType)))
        driverContract(spark, m, delta, deletedCol, refusal, budget)
      else None
    local.getOrElse(distributedContract(m, delta, deletedCol, refusal))
  }

  /** [[contractPass]]'s driver path; None when a partition of the
    * delta charges more than its share of `budget`. */
  private def driverContract(spark: SparkSession, m: SnapManifest,
                             delta: DataFrame, deletedCol: Option[String],
                             refusal: String,
                             budget: Long): Option[ContractInfo] = {
    val nKeys = m.keyCols.size
    val proj = delta.select(
      struct(m.keyCols.map(k =>
        normalizedKey(col(k), delta.schema(k).dataType).as(k)): _*).as("k"),
      deletedCol.fold(lit(false))(d => col(d).isNull).as("nd"),
      bucketExpr(m, identity).as("b"))
    val schema = proj.schema
    val rdd = proj.queryExecution.toRdd
    val share = budget / math.max(rdd.getNumPartitions, 1)
    val rowCharge = keyRowBytes(m)
    val kept = scala.collection.mutable.ArrayBuffer.empty[Array[UnsafeRow]]
    var overflow = false
    spark.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => {
        val unsafe = UnsafeProjection.create(schema)
        val out = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
        var charged = 0L
        while (charged <= share && it.hasNext) {
          val r = unsafe(it.next()).copy()
          charged += math.max(rowCharge, r.getStruct(0, nKeys).getSizeInBytes)
          out += r
        }
        if (charged > share) null else out.toArray
      },
      (_: Int, part: Array[UnsafeRow]) => {
        if (part == null) { overflow = true; kept.clear() }
        else if (!overflow) kept += part
        ()
      })
    if (overflow) return None
    val keyType = schema("k").dataType.asInstanceOf[StructType]
    val bIdx = m.keyCols.indexOf(m.bucketCol)
    val bType = keyType(bIdx).dataType
    val integral = m.keyKind == "long"
    def bucketKey(k: InternalRow): Any =
      if (integral) k.get(bIdx, bType).asInstanceOf[Number].longValue
      else k.getUTF8String(bIdx)
    def below(a: Any, b: Any): Boolean =
      if (integral) a.asInstanceOf[Long] < b.asInstanceOf[Long]
      else a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]) < 0
    val seen = new java.util.HashSet[InternalRow]()
    val ranges = scala.collection.mutable.HashMap.empty[Int, (Any, Any)]
    val keys = Vector.newBuilder[InternalRow]
    kept.foreach(_.foreach { r =>
      val k = r.getStruct(0, nKeys)
      require(!r.getBoolean(1) && (0 until nKeys).forall(!k.isNullAt(_)) &&
        seen.add(k), refusal)
      val v = bucketKey(k)
      val b = r.getInt(2)
      ranges(b) = ranges.get(b).fold((v, v)) { case (mn, mx) =>
        (if (below(v, mn)) v else mn, if (below(mx, v)) v else mx) }
      keys += k
    })
    Some(ContractInfo(
      ranges.map { case (b, (mn, mx)) => b -> (mn.toString, mx.toString) }.toMap,
      seen.size.toLong, Some(keyType -> keys.result())))
  }

  /** [[contractPass]]'s distributed path: keys, then buckets. */
  private def distributedContract(m: SnapManifest, delta: DataFrame,
                                  deletedCol: Option[String],
                                  refusal: String): ContractInfo = {
    val keyEx = m.keyCols.map(col)
    val anyNullKey = m.keyCols.map(col(_).isNull).reduce(_ || _)
    val nullFlag = deletedCol.fold(lit(false))(d => col(d).isNull)
    val rows = delta
      .withColumn("_b", bucketExpr(m, identity))
      .groupBy(keyEx: _*)
      .agg(count(lit(1)).as("cnt"),
        count(when(nullFlag, 1)).as("null_del"),
        max(when(anyNullKey, 1).otherwise(0)).as("null_key"),
        min(col("_b")).as("_b"),
        min(col(m.bucketCol)).as("kmn"),
        max(col(m.bucketCol)).as("kmx"))
      .groupBy(col("_b"))
      .agg(max(col("cnt")).as("max_cnt"),
        sum(col("cnt")).as("rows"),
        sum(col("null_del")).as("null_del"),
        max(col("null_key")).as("null_key"),
        min(col("kmn")).cast("string").as("mn"),
        max(col("kmx")).cast("string").as("mx"))
      .collect()
    require(!rows.exists(r => r.getAs[Long]("max_cnt") > 1 ||
        r.getAs[Long]("null_del") > 0 || r.getAs[Int]("null_key") > 0),
      refusal)
    ContractInfo(
      rows.map(r => r.getAs[Int]("_b") ->
        (r.getAs[String]("mn"), r.getAs[String]("mx"))).toMap,
      rows.map(_.getAs[Long]("rows")).sum, None)
  }

  /** Can file `f` hold a key in the delta's per-bucket ranges? Always
    * the TYPED compare ([[keyKindOf]]) — never lexicographic. */
  private def fileIntersects(keyKind: String,
                             ranges: Map[Int, (String, String)])
                            (f: SnapFile): Boolean =
    ranges.get(f.bucket).exists { case (mn, mx) =>
      if (keyKind == "long")
        f.max.toLong >= mn.toLong && f.min.toLong <= mx.toLong
      else f.max >= mn && f.min <= mx
    }

  /** A copy-on-write merge's resolved shape over a table that may
    * carry merge-on-read deltas. Every outstanding delta file in a
    * bucket the new delta TOUCHES must fold into this rewrite: a
    * carried delta out-sequences base rows at read time, so leaving
    * one behind would let its stale row mask the value this merge is
    * about to commit. Folding widens the per-bucket key ranges (the
    * folded deltas' own pre-image base files must join the rewrite);
    * deltas in untouched buckets carry and keep applying at read. */
  private[sources] final case class MergePlan(ranges: Map[Int, (String, String)],
                                     rewrite: Seq[SnapFile],
                                     carry: Seq[SnapFile],
                                     foldDeltas: Seq[SnapFile],
                                     carryDeltas: Seq[SnapFile],
                                     foldDvs: Seq[SnapFile],
                                     carryDvs: Seq[SnapFile])

  private[sources] def planMergeWithRanges(
      m: SnapManifest, ranges: Map[Int, (String, String)]): MergePlan = {
    val touched = ranges.keySet
    val (foldD, carryD) = m.deltas.partition(d => touched.contains(d.bucket))
    def pick(a: String, b: String, takeA: Boolean): String = if (takeA) a else b
    def lo(a: String, b: String): String =
      pick(a, b, if (m.keyKind == "long") a.toLong <= b.toLong else a <= b)
    def hi(a: String, b: String): String =
      pick(a, b, if (m.keyKind == "long") a.toLong >= b.toLong else a >= b)
    val widened = ranges.map { case (b, (mn, mx)) =>
      b -> foldD.filter(_.bucket == b).foldLeft((mn, mx)) {
        case ((cmn, cmx), d) => (lo(cmn, d.min), hi(cmx, d.max)) }
    }
    val (rw, cr) = m.files.partition(fileIntersects(m.keyKind, widened))
    // a deletion vector lives and dies with its TARGET file: rewritten
    // target → the rewrite applies the positions and the DV retires;
    // carried target → the DV carries and keeps applying at read
    val rwNames = rw.map(f => fileNameOf(f.path)).toSet
    val (foldV, carryV) = m.dvs.partition(v => rwNames.contains(dvTargetOf(v)))
    MergePlan(widened, rw, cr, foldD, carryD, foldV, carryV)
  }

  /** Survivors of the rewritten files (with any folding deltas
    * applied) ∪ the upserts; the anti-join's build side is the delta's
    * keys. A known-small side broadcasts deliberately, not via AQE's
    * detour of materializing the exchange first — that detour is one
    * extra job per commit: when [[contractPass]] took its driver path
    * its keys broadcast as a local relation (no second scan of the
    * delta), and when the distributed path counted rows that still fit
    * the threshold, the delta's key projection broadcasts. A delta past
    * the threshold keeps the un-hinted join: AQE picks the strategy from
    * real sizes and the MEMORY_AND_DISK persist spills instead of
    * OOMing — the graceful-degradation path. */
  private[sources] def mergedFrame(spark: SparkSession, loc: HPath, m: SnapManifest,
                          delta: DataFrame, deletedCol: String,
                          plan: MergePlan, info: ContractInfo): DataFrame = {
    val upserts = delta.filter(!col(deletedCol))
      .select(m.schema.fieldNames.map(col).toSeq: _*)
    val deltaKeys = delta.select(m.keyCols.map(col): _*)
    val build = info.localKeys(spark).map(broadcast).getOrElse(
      if (keysFitBroadcast(m, info.deltaRows)) broadcast(deltaKeys)
      else deltaKeys)
    morApplied(spark, loc, m, plan.rewrite, plan.foldDeltas, plan.foldDvs)
      .join(build, m.keyCols, "left_anti")
      .unionByName(upserts)
  }

  private def mergeResolved(spark: SparkSession, loc: HPath,
                            m: SnapManifest, held: Held,
                            deletedCol: String, autoOptimize: Int,
                            appliedStamp: Option[Long]): Int = {
    {
      val gate = () => Published.assertLeaseOwned(loc)
      val fs = Published.fsOf(loc)
      val delta = held.frame
      val info = traced("merge.contractCheck")(
        mergeContract(spark, m, delta, deletedCol))
      val plan = traced("merge.planMerge")(planMergeWithRanges(m, info.ranges))
      val merged = mergedFrame(spark, loc, m, delta, deletedCol, plan, info)

      val token = newToken()
      val next = m.version + 1
      val files = plan.carry ++
        traced("merge.stageDataFiles")(
          stageDataFiles(spark, loc, m, merged, next, token, gate))
      graft.RestartKit.crashWindow("snapstage", SnapHaltEnv)
      val mn = m.copy(version = next, parent = m.version, writer = token,
        files = files, applied = appliedStamp.getOrElse(m.applied),
        op = "merge", base = m.version, deltas = plan.carryDeltas,
        dvs = plan.carryDvs)
      if (sys.env.contains(SnapTornEnv)) {
        // probe hook: reproduce the mid-create crash for REAL across a
        // process boundary — land the manifest bytes WITHOUT the
        // checksum footer (exactly the torn state a kill -9 inside the
        // create leaves) and halt the JVM kill -9-grade
        val torn = render(mn)
        val body = java.util.Arrays.copyOf(torn,
          new String(torn, "UTF-8").lastIndexOf("#commit "))
        Published.createNewAtomic(fs, manifestPath(loc, next), body)
        println(s"SNAPPROBE torn manifest v$next landed; halting")
        System.out.flush()
        Runtime.getRuntime.halt(137)
      }
      traced("merge.commitManifest")(commitManifest(fs, loc, mn, gate))
      graft.RestartKit.crashWindow("snapcommit", SnapHaltEnv)
      if (autoOptimize > 0 && (files ++ mn.deltas ++ mn.dvs)
          .groupBy(_.bucket).valuesIterator.exists(_.size >= autoOptimize)) {
        // the fold never touches the delta — release its cached blocks
        // before a rewrite that may need that executor memory
        held.release()
        optimize(spark, loc, minFilesPerBucket = autoOptimize) // re-entrant lease
      } else next
    }
  }

  /** Exactly-once streaming CDC apply: merge micro-batch `batchId`'s
    * delta UNLESS the table's applied high-water already covers it.
    * Structured Streaming's foreachBatch re-offers the last batch
    * whose sink work committed but whose checkpoint commit did not
    * land (driver death in that window) — the stamped high-water makes
    * that replay a no-op instead of a double-apply, the same
    * transactional-sink pattern the open lakehouse formats publish.
    * The stamp rides IN the manifest, so it commits atomically WITH
    * the data it accounts for — there is no window where the rows
    * landed but the dedup state did not. Returns the serving version.
    *
    * Batch ids are meaningful only within ONE checkpoint lineage —
    * [[assertStreamLineage]] (called by the sink) refuses a foreign
    * checkpoint whose restarted ids would alias already-applied ones. */
  def mergeStreaming(spark: SparkSession, loc: HPath, delta: DataFrame,
                     batchId: Long, deletedCol: String = "_deleted",
                     autoOptimize: Int = 0, autoVacuum: Int = 0): Int =
    merge(spark, loc, delta, deletedCol, autoOptimize, Some(batchId),
      autoVacuum)

  /** Merge-on-read MERGE — same delta contract and row semantics as
    * the copy-on-write [[merge]], but the commit writes ONLY THE DELTA:
    * one small per-bucket delta file (full table columns + the delete
    * flag + the committing version) lands beside the base, and every
    * base file carries by reference. Readers apply outstanding deltas
    * ([[morApplied]]): latest commit wins per key, a winning delete
    * drops the key, every delta key masks its base row.
    *
    * This is the write-amplification fix for trickle CDC — the
    * reference's own load shape (N continuous region producers,
    * `regionSpout.go:82-94`, each batch small): under copy-on-write a
    * 1-row delete into a fat bucket rewrites the whole bucket file;
    * here it commits one 1-row file — O(delta) BYTES, not just
    * O(delta) files. The read-time cost (the anti-join + latest-wins
    * fold over the delta set) grows with outstanding deltas, so the
    * format folds them back into the base:
    *
    *   - [[optimize]] rewrites every bucket whose live file count
    *     (base + delta) reaches the threshold, applying and retiring
    *     its deltas — `autoOptimize` arms it on this commit's own
    *     lease hold, the same self-contained story as [[merge]]'s;
    *   - any later copy-on-write merge that touches a bucket folds
    *     that bucket's deltas as part of its rewrite
    *     ([[planMergeWithRanges]]).
    *
    * Time travel, changelog reads, OCC rivals, vacuum/retention, and
    * the follower all compose: deltas are ordinary immutable manifest
    * entries. The changelog actually gets CHEAPER — a `mor` step's
    * changed rows are read straight from its delta files.
    *
    * The lease is held for the whole (tiny) commit: staging a delta
    * file is O(delta) bytes, so MOR writers gain nothing from the
    * optimistic path — the serialized hold IS short. Exactly-once
    * streaming via `appliedStamp`, same high-water contract as
    * [[mergeStreaming]]. Returns the committed (or post-fold) version. */
  def mergeMor(spark: SparkSession, loc: HPath, deltaIn: DataFrame,
               deletedCol: String = "_deleted",
               appliedStamp: Option[Long] = None,
               autoOptimize: Int = 0, autoVacuum: Int = 0): Int = {
    require(autoOptimize == 0 || autoOptimize >= 2,
      "autoOptimize must be 0 (off) or >= 2")
    require(autoVacuum >= 0, "autoVacuum must be 0 (off) or >= 1")
    val held = new Held(deltaIn)
    val delta = held.frame
    try Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
      val m = head(spark, loc).getOrElse(
        sys.error(s"snap $loc: mergeMor into a table that never committed"))
      val v =
        if (appliedStamp.exists(_ <= m.applied)) m.version
        else {
          val gate = () => Published.assertLeaseOwned(loc)
          val fs = Published.fsOf(loc)
          mergeContract(spark, m, delta, deletedCol)
          val next = m.version + 1
          val token = newToken()
          // the delta rows THEMSELVES are the commit payload; extra
          // stats deliberately unrecorded (value-column pruning must
          // never skip a delta file — a delete row carries only keys)
          val staged = stageWrite(spark, loc, m, delta, next, token, gate,
            metaCols = Seq(MorDelCol -> col(deletedCol).cast("boolean"),
              MorSeqCol -> lit(next.toLong)),
            recordExtraStats = false)
          val newDeltas = promoteStaged(fs, loc, staged, next, gate,
            filePrefix = "d")
          graft.RestartKit.crashWindow("snapstage", SnapHaltEnv)
          val mn = m.copy(version = next, parent = m.version, writer = token,
            deltas = m.deltas ++ newDeltas,
            applied = appliedStamp.getOrElse(m.applied),
            op = "mor", base = m.version)
          commitManifest(fs, loc, mn, gate)
          graft.RestartKit.crashWindow("snapcommit", SnapHaltEnv)
          if (autoOptimize > 0 && (mn.files ++ mn.deltas ++ mn.dvs)
              .groupBy(_.bucket)
              .valuesIterator.exists(_.size >= autoOptimize)) {
            held.release()
            optimize(spark, loc, minFilesPerBucket = autoOptimize)
          } else next
        }
      maybeAutoVacuum(spark, loc, autoVacuum)
      v
    } finally held.release()
  }

  /** Exactly-once streaming form of [[mergeMor]] — the trickle-CDC
    * sink shape: per micro-batch, O(batch) bytes commit, the applied
    * high-water rides the manifest (replays no-op), and `autoOptimize`
    * folds the accumulating delta files on the sink's own cadence. */
  def mergeMorStreaming(spark: SparkSession, loc: HPath, delta: DataFrame,
                        batchId: Long, deletedCol: String = "_deleted",
                        autoOptimize: Int = 0, autoVacuum: Int = 0): Int =
    mergeMor(spark, loc, delta, deletedCol, Some(batchId), autoOptimize,
      autoVacuum)

  /** Delete-only commit as POSITIONAL DELETION VECTORS — the r19
    * verdict's third ask: a delete through [[mergeMor]] stages one
    * full-width row per key, so a wide-schema table pays its column
    * count for every delete; this commit stages O(positions) BYTES —
    * per affected base file, one tiny parquet of doomed row indexes
    * ([[DvPosCol]]), found by ONE column-pruned pass over the
    * stats-intersecting files (read keys + `_metadata.row_index`,
    * semi-join the delete keys).
    *
    * `delIn` needs ONLY the key columns (plus anything else, ignored).
    * Row semantics match a `mergeMor` of all-deleted rows exactly —
    * q148 pins DV ≡ key-delta ≡ copy-on-write row sets.
    *
    * DV-per-target keeps every later fold precise and rewrite-free:
    * a copy-on-write touch or [[optimize]] of the target applies the
    * positions and retires the DV; carried targets carry theirs. Keys
    * whose LIVE image sits in an outstanding delta file cannot die by
    * base position — with any outstanding delta in a touched bucket
    * the key set ALSO lands as one slim residual delta file (keys +
    * delete flag, null elsewhere — nulls are near-free in parquet), so
    * latest-wins still erases them. OCC rivals compose: a rival DV on
    * a file an optimistic merge rewrote forces that merge to retry
    * ([[mergeOcc]]'s disjointness test), never a silent resurrect.
    *
    * Exactly-once streaming via `appliedStamp`, same contract as
    * [[mergeStreaming]]. Returns the committed (or post-fold) version. */
  def deleteVector(spark: SparkSession, loc: HPath, delIn: DataFrame,
                   appliedStamp: Option[Long] = None,
                   autoOptimize: Int = 0, autoVacuum: Int = 0): Int = {
    require(autoOptimize == 0 || autoOptimize >= 2,
      "autoOptimize must be 0 (off) or >= 2")
    require(autoVacuum >= 0, "autoVacuum must be 0 (off) or >= 1")
    val held = new Held(delIn)
    val del = held.frame
    try Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
      val m = head(spark, loc).getOrElse(
        sys.error(s"snap $loc: deleteVector into a table that never committed"))
      val v =
        if (appliedStamp.exists(_ <= m.applied)) m.version
        else {
          val gate = () => Published.assertLeaseOwned(loc)
          val fs = Published.fsOf(loc)
          val keys = del.select(m.keyCols.map(col): _*)
          val info = dvContract(spark, m, del)
          val ranges = info.ranges
          val targets = m.files.filter(fileIntersects(m.keyKind, ranges))
          val next = m.version + 1
          val token = newToken()
          val hits = readFiles(spark, loc, m, targets, withPos = true)
            .select((m.keyCols.map(col) :+ col(FileNameCol) :+
              col(RowPosCol)): _*)
            .join(info.localKeys(spark).getOrElse(keys), m.keyCols, "left_semi")
          val newDvs = stageDvFiles(spark, loc, m, hits, targets, next,
            token, gate)
          graft.RestartKit.crashWindow("snapstage", SnapHaltEnv)
          val touchedDeltas = m.deltas.filter(d => ranges.contains(d.bucket))
          val residual: Seq[SnapFile] =
            if (touchedDeltas.isEmpty) Seq.empty
            else {
              // only keys in buckets that HOLD outstanding deltas can
              // have delta-resident live images (delta files are
              // bucket-local) — the residual covers exactly those
              val deltaBuckets = touchedDeltas.map(_.bucket).toSeq
              val inDeltaBuckets = keys
                .withColumn("__graft_b", bucketExpr(m, identity))
                .filter(col("__graft_b").isin(deltaBuckets: _*))
                .drop("__graft_b")
              val full = inDeltaBuckets.select(m.schema.fields.map(f =>
                if (m.keyCols.contains(f.name)) col(f.name)
                else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
              promoteStaged(fs, loc,
                stageWrite(spark, loc, m, full, next, token + "r", gate,
                  metaCols = Seq(MorDelCol -> lit(true),
                    MorSeqCol -> lit(next.toLong)),
                  recordExtraStats = false),
                next, gate, filePrefix = "dr")
            }
          val mn = m.copy(version = next, parent = m.version, writer = token,
            deltas = m.deltas ++ residual, dvs = m.dvs ++ newDvs,
            applied = appliedStamp.getOrElse(m.applied),
            op = "dv", base = m.version)
          commitManifest(fs, loc, mn, gate)
          graft.RestartKit.crashWindow("snapcommit", SnapHaltEnv)
          if (autoOptimize > 0 && (mn.files ++ mn.deltas ++ mn.dvs)
              .groupBy(_.bucket)
              .valuesIterator.exists(_.size >= autoOptimize)) {
            held.release()
            optimize(spark, loc, minFilesPerBucket = autoOptimize)
          } else next
        }
      maybeAutoVacuum(spark, loc, autoVacuum)
      v
    } finally held.release()
  }

  /** The deleteVector contract: key columns present under the table's
    * types, one non-null-keyed row per key — the input has no delete
    * flag — checked with the ranges by the same [[contractPass]] every
    * merge runs. */
  private def dvContract(spark: SparkSession, m: SnapManifest,
                         del: DataFrame): ContractInfo = {
    require(m.keyCols.forall(del.columns.contains),
      s"deleteVector input is missing key columns: " +
        m.keyCols.filterNot(del.columns.contains).mkString(","))
    val mistyped = m.keyCols.filter(k =>
      del.schema(k).dataType != m.schema(k).dataType)
    require(mistyped.isEmpty,
      "deleteVector key column types diverge from the table schema: " +
        mistyped.mkString(","))
    contractPass(spark, m, del, None,
      "deleteVector input carries duplicate or null keys")
  }

  /** Stage + promote the per-target DV files: the hits frame
    * partitions by target file name (one task and one parquet per
    * target), stats read back from the staged bytes, promotion under
    * the lease — the [[stageWrite]]/[[promoteStaged]] discipline with
    * target-name instead of bucket partitioning. */
  private def stageDvFiles(spark: SparkSession, loc: HPath, m: SnapManifest,
                           hits: DataFrame, targets: Seq[SnapFile],
                           version: Int, token: String,
                           gate: () => Unit): Seq[SnapFile] = {
    val fs = Published.fsOf(loc)
    val stage = new HPath(loc, s"stage-v$version-$token-dv")
    val heartbeat = new StageHeartbeat(fs, stage).start()
    try {
      val bucketOf = targets.map(f => fileNameOf(f.path) -> f.bucket).toMap
      val (dirs, statSeq) =
        Published.retryJobIO(s"snap dv staging of $stage", gate) {
          hits.select(col(FileNameCol), col(RowPosCol).as(DvPosCol))
            .repartition(col(FileNameCol))
            .write.mode(SaveMode.Overwrite).partitionBy(FileNameCol)
            // same private-stage committer shape as stageWrite
            .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .parquet(fs.makeQualified(stage).toString)
          val dirList = fs.listStatus(stage)
            .filter(st => st.isDirectory &&
              st.getPath.getName.startsWith(s"$FileNameCol="))
            .sortBy(_.getPath.getName)
          val st =
            if (dirList.isEmpty) Array.empty[(String, (Long, Long, Long))]
            else spark.read.parquet(fs.makeQualified(stage).toString)
              .groupBy(col(FileNameCol))
              .agg(count(lit(1)).as("rows"),
                min(col(DvPosCol)).as("mn"), max(col(DvPosCol)).as("mx"))
              .collect() // ≤ targets rows — bounded driver metadata
              .map(r => r.getString(0) ->
                (r.getAs[Long]("rows"), r.getAs[Long]("mn"),
                  r.getAs[Long]("mx")))
          (dirList, st)
        }
      if (statSeq.isEmpty) {
        heartbeat.stop()
        Published.retryIO(gate)(fs.delete(stage, true))
        return Seq.empty
      }
      val stats = statSeq.toMap
      heartbeat.stop() // lease held from here (gate) — promote
      Published.retryIO(gate)(fs.mkdirs(new HPath(loc, "data")))
      val out = dirs.toSeq.zipWithIndex.map { case (d, i) =>
        // data-file names never need partition-value unescaping (the
        // promote naming scheme is [A-Za-z0-9.-] only)
        val target = d.getPath.getName.stripPrefix(s"$FileNameCol=")
        val leaves = Published.retryIO(gate)(fs.listStatus(d.getPath))
          .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
          .sortBy(_.getPath.getName)
        require(leaves.length == 1,
          s"snap dv staging produced ${leaves.length} files for $target — " +
            "the repartition single-file invariant broke")
        val (cnt, mnP, mxP) = stats(target)
        val name = s"data/v$version-dv$i-0.parquet"
        Published.moveResumable(fs, leaves.head.getPath,
          new HPath(loc, name), gate)
        SnapFile(name, bucketOf(target), cnt, mnP.toString, mxP.toString,
          Map(DvTargetKey -> (target, "")))
      }
      Published.retryIO(gate)(fs.delete(stage, true))
      out
    } catch { case t: Throwable => heartbeat.stop(); throw t }
  }

  /** Optimistic-concurrency MERGE — same semantics and contract as
    * [[merge]], but writers that touch DISJOINT files no longer
    * serialize through the table lease for their whole stage+commit
    * (the r17 verdict's one design ceiling: at 100 TB with several CDC
    * appliers / backfill jobs on disjoint buckets, the single-writer
    * lease makes writer 2 wait out writer 1's entire rewrite even when
    * their file sets never intersect).
    *
    * Protocol, the published optimistic-concurrency shape built on the
    * primitives this format already has (atomic manifest create-new,
    * version chain, per-file bucket/key-range metadata):
    *
    *   1. **Resolve** the head WITHOUT the lease and plan the merge
    *      against it (rewrite set, per-bucket delta ranges).
    *   2. **Stage leaseless** — the expensive part: read the rewrite
    *      set, anti-join, write the replacement files into a
    *      token-private stage dir. Rival writers stage CONCURRENTLY;
    *      nothing staged is visible to anyone.
    *   3. **Commit under the lease, with conflict detection** — the
    *      cheap part (O(touched buckets) metadata moves + one manifest
    *      create). Re-read the head:
    *        - unchanged → promote + commit as resolved;
    *        - advanced by rivals whose commits are DISJOINT from this
    *          plan (every file this writer rewrote still live in the
    *          new head, and no rival-added file's key range intersects
    *          this delta's per-bucket ranges) → **rebase**: carry the
    *          rivals' files, commit on top of THEIR head (the
    *          manifest's `base` field records the resolved version —
    *          base < parent is the rebase audit);
    *        - overlapping → discard the stage dir and retry the whole
    *          merge against the new head (the rival's rows must feed
    *          this writer's anti-join).
    *
    *    The rebase-or-retry decision is pure manifest metadata — no
    *    data bytes are read under the lease. The disjointness test is
    *    range-based, so it can refuse a rebase that row-level analysis
    *    would allow (a rival file whose [min,max] straddles this
    *    delta's range but holds none of its keys) — conservative,
    *    never wrong.
    *
    * Keeps the lease for promotion+commit (not just the create): the
    * torn-manifest sweep inside [[commitManifest]] stays sound (a torn
    * manifest at the target version can only be a DEAD writer's), and
    * vacuum — also lease-held — can never sweep a just-promoted,
    * not-yet-referenced file. Stage dirs of LIVE leaseless stagers are
    * protected from vacuum by an age guard instead ([[vacuum]]).
    *
    * Throws after `maxAttempts` lost races (contention that high means
    * the workload wants the serialized [[merge]]).
    *
    * Retention interplay: an optimistic stager reads its resolved
    * version's files WITHOUT the lease, so a rival's (auto)vacuum can
    * sweep that version mid-stage if retention is tighter than the
    * staging horizon — the stage then fails LOUDLY (missing input
    * file) or the commit point detects the rewrite set gone and
    * retries; never a silent wrong answer. Size `autoVacuum` /
    * `keepVersions` to cover the longest concurrent stage. */
  def mergeOcc(spark: SparkSession, loc: HPath, deltaIn: DataFrame,
               deletedCol: String = "_deleted", autoOptimize: Int = 0,
               appliedStamp: Option[Long] = None, maxAttempts: Int = 5,
               autoVacuum: Int = 0): Int = {
    require(autoOptimize == 0 || autoOptimize >= 2,
      "autoOptimize must be 0 (off) or >= 2")
    require(autoVacuum >= 0, "autoVacuum must be 0 (off) or >= 1")
    val fs = Published.fsOf(loc)
    val held = new Held(deltaIn)
    val delta = held.frame
    val (v, cm) = try {
      var out: Option[(Int, SnapManifest)] = None
      var attempt = 0
      while (out.isEmpty) {
        attempt += 1
        if (attempt > maxAttempts)
          sys.error(s"snap $loc: optimistic merge lost the race $maxAttempts " +
            "times — contention this high wants the serialized merge()")
        occTrace(s"attempt=$attempt resolve")
        val m = head(spark, loc).getOrElse(
          sys.error(s"snap $loc: merge into a table that never committed"))
        if (appliedStamp.exists(_ <= m.applied)) return m.version
        val occInfo = mergeContract(spark, m, delta, deletedCol)
        val plan = planMergeWithRanges(m, occInfo.ranges)
        val merged = mergedFrame(spark, loc, m, delta, deletedCol, plan,
          occInfo)
        val token = newToken()
        occTrace(s"attempt=$attempt stage_start=${System.currentTimeMillis()}")
        val staged = stageWrite(spark, loc, m, merged, m.version + 1, token,
          () => ())
        occTrace(s"attempt=$attempt stage_end=${System.currentTimeMillis()}")
        // any throw between here and the lease block's own promote/
        // discard arms (lease acquisition failure, the head re-read
        // throwing past its retry budget, a concurrently-dropped
        // table) must not leak the stage: its heartbeat daemon would
        // otherwise shield the orphan dir from vacuum for this JVM's
        // whole life (r19 review finding). Discard is idempotent, so
        // catching a post-promote throw (stage already consumed and
        // deleted) is harmless.
        def leaseCommit(): Option[(Int, SnapManifest)] =
          try Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
            val gate = () => Published.assertLeaseOwned(loc)
            occTrace(s"attempt=$attempt commit_enter=${System.currentTimeMillis()}")
            val h2 = head(spark, loc).getOrElse(
              sys.error(s"snap $loc: table vanished mid-merge"))
            if (appliedStamp.exists(_ <= h2.applied)) {
              // a rival stream attempt applied this batch while we
              // staged — replay no-op; our stage is pure orphan
              discardStage(fs, staged, gate)
              Some((h2.version, h2))
            } else {
              val myRewrite = plan.rewrite.map(_.path).toSet
              val myRewriteNames = plan.rewrite.map(f => fileNameOf(f.path)).toSet
              val myFolded = plan.foldDeltas.map(_.path).toSet
              val myFoldedV = plan.foldDvs.map(_.path).toSet
              val target: Option[SnapManifest] =
                if (h2.version == m.version)
                  Some(m.copy(version = m.version + 1, parent = m.version,
                    writer = token, files = plan.carry,
                    applied = appliedStamp.getOrElse(m.applied),
                    op = "merge", base = m.version,
                    deltas = plan.carryDeltas, dvs = plan.carryDvs))
                else {
                  // rivals committed past our base: rebase iff disjoint
                  // — over base files AND merge-on-read deltas: a rival
                  // delta intersecting our ranges would out-sequence
                  // (mask) our freshly staged rows at read time, and a
                  // rival that folded a delta we also folded has
                  // rewritten our pre-images
                  val h2Paths = h2.files.map(_.path).toSet
                  val h2DPaths = h2.deltas.map(_.path).toSet
                  val basePaths = m.files.map(_.path).toSet
                  val baseDPaths = m.deltas.map(_.path).toSet
                  val rivalNew = h2.files.filterNot(f => basePaths.contains(f.path))
                  val rivalNewD = h2.deltas.filterNot(f =>
                    baseDPaths.contains(f.path))
                  // a rival DELETION VECTOR targeting a file this merge
                  // rewrote is never rebasable: our staged replacement
                  // was built WITHOUT their positions, and carrying
                  // their DV would point it at a dead file name — the
                  // rival's deletes would silently resurrect
                  val baseVPaths = m.dvs.map(_.path).toSet
                  val rivalNewV = h2.dvs.filterNot(v =>
                    baseVPaths.contains(v.path))
                  // a rival REBUCKET changes the bucket topology: our
                  // staged files' bucket ids (and every future delta's
                  // bucket math) would be stale under h2 — never
                  // rebase across one, retry against the new topology
                  val sameTopology = h2.buckets == m.buckets &&
                    h2.rangeMin == m.rangeMin && h2.rangeMax == m.rangeMax &&
                    h2.z2Min == m.z2Min && h2.z2Max == m.z2Max
                  val disjoint = sameTopology &&
                    myRewrite.subsetOf(h2Paths) &&
                    myFolded.subsetOf(h2DPaths) &&
                    myFoldedV.subsetOf(h2.dvs.map(_.path).toSet) &&
                    !rivalNew.exists(fileIntersects(m.keyKind, plan.ranges)) &&
                    !rivalNewD.exists(fileIntersects(m.keyKind, plan.ranges)) &&
                    !rivalNewV.exists(v =>
                      myRewriteNames.contains(dvTargetOf(v)))
                  if (!disjoint) None
                  // h2's schema AND column mapping ride the copy: a
                  // rival rename is metadata-only, and our staged
                  // files' PHYSICAL names are rename-stable — they
                  // read correctly under h2's phys without a rewrite.
                  // Rival deltas in OTHER buckets carry: they apply at
                  // read over files this merge never touched.
                  else Some(h2.copy(version = h2.version + 1,
                    parent = h2.version, writer = token,
                    files = h2.files.filterNot(f => myRewrite.contains(f.path)),
                    applied = appliedStamp.fold(h2.applied)(math.max(_, h2.applied)),
                    op = "merge", base = m.version,
                    deltas = h2.deltas.filterNot(f => myFolded.contains(f.path)),
                    dvs = h2.dvs.filterNot(v => myFoldedV.contains(v.path))))
                }
              target match {
                case Some(tm) =>
                  val fresh = promoteStaged(fs, loc, staged, tm.version, gate)
                  graft.RestartKit.crashWindow("snapstage", SnapHaltEnv)
                  val full = tm.copy(files = tm.files ++ fresh)
                  commitManifest(fs, loc, full, gate)
                  graft.RestartKit.crashWindow("snapcommit", SnapHaltEnv)
                  Some((tm.version, full))
                case None =>
                  discardStage(fs, staged, gate)
                  None
              }
            }
          } catch { case t: Throwable =>
            discardStage(fs, staged, () => ())
            throw t
          }
        val committed = leaseCommit()
        committed match {
          case Some((cv, _)) => occTrace(s"attempt=$attempt committed v=$cv")
          case None => occTrace(s"attempt=$attempt conflict_retry")
        }
        out = committed
      }
      out.get
    } finally held.release()
    // post-commit housekeeping OUTSIDE the cache scope (the fold may
    // want the delta's executor memory back). The fold trigger reads
    // the committed manifest IN HAND — never atVersion(v), which a
    // rival's commit + tight autoVacuum could have swept in this
    // window, reporting failure for a durably-committed merge (r18
    // advice).
    val served =
      if (autoOptimize > 0 && (cm.files ++ cm.deltas ++ cm.dvs)
          .groupBy(_.bucket)
          .valuesIterator.exists(_.size >= autoOptimize))
        optimize(spark, loc, minFilesPerBucket = autoOptimize)
      else v
    if (autoVacuum > 0)
      Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
        maybeAutoVacuum(spark, loc, autoVacuum)
      }
    served
  }

  /** Drop a staged-but-never-promoted write (lost race): best-effort —
    * a blip here only leaves debris the age-guarded vacuum sweeps. */
  private def discardStage(fs: FileSystem, staged: Staged,
                           gate: () => Unit): Unit = {
    staged.heartbeat.stop()
    try Published.retryIO(gate)(fs.delete(staged.stage, true))
    catch { case _: java.io.IOException => () }
  }

  /** Test/probe hooks: [[occStageHold]] runs at the end of every
    * staging write (the cross-JVM race probe widens the leaseless
    * window so wall-clock overlap is assertable); [[occTrace]] receives
    * the optimistic protocol's step markers. Both default to no-ops and
    * are only ever set by specs/probes in their own JVM. */
  private[graft] var occStageHold: () => Unit = () => ()
  private[graft] var occTrace: String => Unit = _ => ()

  /** Stamp-or-verify the stream's checkpoint identity on the table —
    * [[Published.assertStreamLineage]] with this table's location (the
    * shared helper stamps the checkpoint's QUERY ID, so even a
    * wiped-and-recreated checkpoint at the same path is refused, and
    * re-stamps over the crashed-create empty-stamp artifact instead of
    * wedging). Must run INSIDE the started query — the sink calls it
    * on its first micro-batch. */
  def assertStreamLineage(loc: HPath, checkpointDir: String): Unit =
    Published.assertStreamLineage(loc, checkpointDir, s"snap cdc $loc")

  /** Bind (or verify) a FOLLOWER destination table to its source's
    * identity — the follower's applied high-water counts SOURCE
    * versions, so feeding the destination from a different source (or
    * mixing it with a checkpoint-id CDC sink) would remap the stamp
    * space exactly like a foreign checkpoint would. Same lease-held
    * stamp-or-verify + torn-stamp heal as the CDC sink's. */
  def assertFollowLineage(dst: HPath, srcIdentity: String): Unit =
    Published.stampOrVerifyLineage(dst, s"follow:$srcIdentity",
      s"snap follow $dst")

  /** Align a step frame (columns named by `from`'s logical schema)
    * onto `target`'s logical schema BY PHYSICAL IDENTITY: a column
    * renamed elsewhere in the range still lines up under the target's
    * name (same physical slot), a column the target dropped vanishes,
    * a column added after the step null-fills. */
  private def alignTo(df: DataFrame, from: SnapManifest,
                      target: SnapManifest): DataFrame =
    df.select(target.schema.fields.map { f =>
      val p = target.physicalOf(f.name)
      from.schema.fieldNames.find(n => from.physicalOf(n) == p) match {
        case Some(src) => col(src).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toSeq: _*)

  /** Changelog / incremental read (CDF): every row that changed
    * between committed versions `fromV` (EXCLUSIVE) and `toV`
    * (inclusive), classified `insert` / `update` / `delete` in
    * `_change_type`, stamped with `_commit_version`, under `toV`'s
    * schema (null-conformed across evolution). Inserts and updates
    * carry the post-image, deletes the pre-image.
    *
    * Derived from the manifest chain in **O(delta)** — the r17
    * verdict's missing incremental read: a downstream consumer used to
    * need a full-outer diff of two whole snapshots (O(table), exactly
    * the cost the COW write side avoids). Per commit step v-1 → v:
    *
    *   - carried files are NEVER read: the step opens only the files
    *     the commit REMOVED (pre-images) and ADDED (post-images) —
    *     both O(that commit's delta);
    *   - inserts   = post-image keys absent from the pre-images;
    *   - deletes   = pre-image keys absent from the post-images;
    *   - updates   = keys present in both whose common non-key columns
    *     differ (null-safe struct compare) — the value compare is what
    *     keeps COPIED survivor rows (rewritten-file rows the delta
    *     never touched) out of the changelog;
    *   - `optimize` and `evolve` commits are row-set-neutral BY
    *     CONTRACT (a physical fold / a metadata-only schema change)
    *     and are skipped without opening a file — the `op` field in
    *     the manifest is what makes that free.
    *
    * Needs every version in (fromV, toV] plus `fromV` itself still
    * within the vacuum horizon — a swept version fails loudly through
    * [[atVersion]]. At 100 TB: reading "what changed last hour" costs
    * the hour's delta bytes, never the table.
    *
    * Plan-size bound (r18 advice): each step contributes up to three
    * joins, so a DEEP range — a year-long audit read over thousands of
    * versions — used to build an O(versions) logical tree that could
    * stall or OOM the driver in ANALYSIS before a byte moved. Past
    * `chunkSteps` steps the per-chunk unions are materialized through
    * `localCheckpoint` (the `Loops` lesson), so the returned plan holds
    * O(range/chunkSteps) leaf nodes and analysis cost never exceeds one
    * chunk's tree. Trade, stated honestly: a checkpointed chunk is
    * computed eagerly and pinned to this session's executors — right
    * for audit reads and follower catch-ups, and `inputFiles`-based
    * plan audits only see the (uncheckpointed) shallow ranges they
    * already use. */
  def changes(spark: SparkSession, loc: HPath, fromV: Int, toV: Int,
              chunkSteps: Int = 16,
              updatePreimages: Boolean = false): DataFrame = {
    require(chunkSteps >= 1, "chunkSteps must be >= 1")
    require(fromV >= 1, s"fromV must be a committed version, got $fromV")
    require(toV >= fromV, s"empty/negative range: ($fromV, $toV]")
    val target = atVersion(spark, loc, toV)
    // the meta columns may not shadow data: withColumn would silently
    // REPLACE a same-named user column in every change row (r18 review
    // finding) — refuse loudly instead
    val metaClash = Seq("_change_type", "_commit_version")
      .filter(target.schema.fieldNames.contains)
    require(metaClash.isEmpty,
      s"snap $loc: schema carries reserved changelog column(s) " +
        s"${metaClash.mkString(",")} — rename them before reading changes")
    // per-VERSION frame groups: the chunking threshold below counts
    // versions, not emitted frames — a version contributes 2-4 frames
    // (insert/delete/update[s]), and counting frames would trip the
    // eager checkpoint on shallow ~5-version ranges the docstring
    // promises stay lazy (r19 review finding)
    val stepFrames: Seq[Seq[DataFrame]] = ((fromV + 1) to toV).map { v =>
      val child = atVersion(spark, loc, v)
      def withMeta(df: DataFrame, tpe: String): DataFrame =
        alignTo(df, child, target)
          .withColumn("_change_type", lit(tpe))
          .withColumn("_commit_version", lit(v))
      if (child.op == "optimize" || child.op == "evolve" ||
          child.op == "rebucket") Seq.empty
      else {
        // within a non-evolve step, parent and child share one schema
        // and column mapping (only evolve commits change them), so the
        // child manifest aligns the pre-image frames too
        val parent = atVersion(spark, loc, v - 1)
        val keys = child.keyCols
        // ---- the one-join classification machinery (r21, guide §2.4/
        // §3.3), shared by the COW and MOR arms: each side's non-key
        // columns are packed into a struct BEFORE the join (a missing
        // side then reads as a NULL struct — packing after would read
        // struct(null,..), which is NOT null), one join classifies
        // every key, and one row explodes into the same change rows
        // the old anti/anti/inner frame triple emitted — with each
        // side's files scanned ONCE per version instead of ~3×, and
        // 1 join per version instead of 3-4 in every follower tick's
        // plan. Update rows carry the post-image as `update` by
        // default, or — the IVM consumers' form
        // ([[graft.streaming.SnapFollow]]'s derived aggregates) — BOTH
        // sides as `update_preimage`/`update_postimage`, the public
        // CDF shape: maintaining a downstream aggregate needs the old
        // value to subtract.
        val valCols = child.schema.fieldNames.filterNot(keys.contains).toSeq
        def packed(df: DataFrame, as: String,
                   extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
          df.select(((keys.map(col) :+ struct(
            (if (valCols.isEmpty) Seq(lit(true).as("__graft_p"))
             else valCols.map(c => col(c).as(c))): _*).as(as)) ++ extra): _*)
        // the update test compares ONLY the given non-key columns —
        // exactly the old struct(nonKey) <=> struct(nonKey); getField
        // keeps types and nullability, so the null-safe semantics of
        // the compare are unchanged
        def changedOver(nonKey: Seq[String]): org.apache.spark.sql.Column =
          if (nonKey.isEmpty) lit(false)
          else !(struct(nonKey.map(c =>
              col("__graft_o").getField(c).as(c)): _*) <=>
            struct(nonKey.map(c => col("__graft_n").getField(c).as(c)): _*))
        def ev(tpe: String, img: String) =
          struct(lit(tpe).as("t"), col(img).as("img"))
        def updateEvents =
          if (updatePreimages)
            array(ev("update_preimage", "__graft_o"),
              ev("update_postimage", "__graft_n"))
          else array(ev("update", "__graft_n"))
        // rows whose event chain falls to the implicit NULL otherwise
        // are dropped by the explode (unchanged matched rows — copied
        // survivor rows stay out of the changelog, as before)
        def emit(joined: DataFrame,
                 events: org.apache.spark.sql.Column): Seq[DataFrame] = {
          val img = joined
            .select((keys.map(col) :+ explode(events).as("__graft_e")): _*)
            .select((keys.map(col) ++
              valCols.map(c => col(s"__graft_e.img.$c").as(c)) :+
              col("__graft_e.t").as("__graft_tpe")): _*)
          Seq(img.select((target.schema.fields.map { f =>
              val p = target.physicalOf(f.name)
              child.schema.fieldNames.find(n => child.physicalOf(n) == p) match {
                case Some(src) => col(src).as(f.name)
                case None => lit(null).cast(f.dataType).as(f.name)
              }
            }.toSeq :+ col("__graft_tpe").as("_change_type") :+
            lit(v).as("_commit_version")): _*))
        }
        /** COW step: one FULL-OUTER join of pre/post images —
          * null-struct tests classify insert/delete, the null-safe
          * compare over the common non-key fields classifies updates. */
        def classify(pre: DataFrame, post: DataFrame): Seq[DataFrame] = {
          val common = child.schema.fieldNames
            .filter(parent.schema.fieldNames.contains).toSeq
          val joined = packed(pre, "__graft_o")
            .join(packed(post, "__graft_n"), keys, "full_outer")
          val events = when(col("__graft_o").isNull,
              array(ev("insert", "__graft_n")))
            .when(col("__graft_n").isNull, array(ev("delete", "__graft_o")))
            .when(changedOver(common.filterNot(keys.contains)), updateEvents)
          emit(joined, events)
        }
        if (child.op == "mor") {
          // a merge-on-read step's changed rows are read straight from
          // its NEW delta files — even cheaper than the removed/added
          // diff. Pre-images come from the parent's resolved rows in
          // the touched buckets: the intersecting base files + the
          // buckets' outstanding deltas, O(touched buckets), carried
          // files never read.
          val parentD = parent.deltas.map(_.path).toSet
          val addedD = child.deltas.filterNot(f => parentD.contains(f.path))
          if (addedD.isEmpty) Seq.empty
          else {
            val d = readDeltaFiles(spark, loc, child, addedD)
            val touched = addedD.map(_.bucket).toSet
            // one delta file per bucket per commit (staging invariant)
            val dRanges = addedD.map(f => f.bucket -> (f.min, f.max)).toMap
            val preBase = parent.files
              .filter(fileIntersects(parent.keyKind, dRanges))
            val preD = parent.deltas.filter(f => touched.contains(f.bucket))
            val pre = morApplied(spark, loc, parent, preBase, preD,
              parent.dvs)
            // ONE left-outer join FROM the delta (r21): the delta holds
            // one row per key (merge contract), and only delta keys can
            // classify, so d ⟕ pre answers everything the old
            // anti/semi/inner triple over a semi-filtered pre did —
            // with the pre-image subtree (morApplied over the touched
            // buckets) in the plan once instead of three times. An
            // upsert with no live pre-image inserts, with a CHANGED one
            // updates; a delete with a live pre-image emits it; a
            // delete for an absent key classifies as nothing, as
            // before.
            val joined = packed(d, "__graft_n", Seq(col(MorDelCol)))
              .join(packed(pre, "__graft_o"), keys, "left_outer")
            val events = when(col(MorDelCol) && col("__graft_o").isNotNull,
                array(ev("delete", "__graft_o")))
              .when(!col(MorDelCol) && col("__graft_o").isNull,
                array(ev("insert", "__graft_n")))
              .when(!col(MorDelCol) &&
                  changedOver(valCols), updateEvents)
            emit(joined, events)
          }
        } else if (child.op == "dv") {
          // a deletion-vector step deletes only: the doomed keys are
          // read off the parent's targeted files at the recorded
          // positions (plus the residual delta's keys — images that
          // lived in outstanding delta files), and the emitted
          // pre-images are the parent's RESOLVED rows for those keys —
          // a position hit on an already-masked base row must not
          // surface a stale image, and a dead key emits nothing.
          val parentV = parent.dvs.map(_.path).toSet
          val addedV = child.dvs.filterNot(f => parentV.contains(f.path))
          val parentD = parent.deltas.map(_.path).toSet
          val addedD = child.deltas.filterNot(f => parentD.contains(f.path))
          if (addedV.isEmpty && addedD.isEmpty) Seq.empty
          else {
            val targetNames = addedV.map(dvTargetOf).toSet
            val targets = parent.files.filter(f =>
              targetNames.contains(fileNameOf(f.path)))
            val posKeys =
              if (addedV.isEmpty)
                readFiles(spark, loc, parent, Seq.empty)
                  .select(keys.map(col): _*)
              else readFiles(spark, loc, parent, targets, withPos = true)
                .join(broadcast(readDvRows(spark, loc, addedV)),
                  Seq(FileNameCol, RowPosCol), "left_semi")
                .select(keys.map(col): _*)
            val resKeys =
              if (addedD.isEmpty) posKeys.limit(0)
              else readDeltaFiles(spark, loc, child, addedD)
                .filter(col(MorDelCol)).select(keys.map(col): _*)
            val delKeys = posKeys.unionByName(resKeys).distinct()
            val touched = (addedV.map(_.bucket) ++ addedD.map(_.bucket)).toSet
            val preBase = parent.files.filter(f => touched.contains(f.bucket))
            val preD = parent.deltas.filter(f => touched.contains(f.bucket))
            val pre = morApplied(spark, loc, parent, preBase, preD,
              parent.dvs).join(delKeys, keys, "left_semi")
            Seq(withMeta(pre, "delete"))
          }
        } else {
          val childPaths = child.files.map(_.path).toSet
          val childDPaths = child.deltas.map(_.path).toSet
          val parentPaths = parent.files.map(_.path).toSet
          val removed = parent.files.filterNot(f => childPaths.contains(f.path))
          val added = child.files.filterNot(f => parentPaths.contains(f.path))
          // a COW merge over a MOR table FOLDS the touched buckets'
          // deltas: the parent-side pre-images are its resolved rows
          // there — removed base files with the folded deltas applied
          // (delta-free tables: removedD empty, morApplied == readFiles)
          val removedD = parent.deltas.filterNot(f =>
            childDPaths.contains(f.path))
          if (removed.isEmpty && added.isEmpty && removedD.isEmpty) Seq.empty
          else classify(
            morApplied(spark, loc, parent, removed, removedD, parent.dvs),
            readFiles(spark, loc, child, added))
        }
      }
    }
    val changedVersions = stepFrames.filter(_.nonEmpty)
    val steps = changedVersions.flatten
    if (steps.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(target.schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
    else if (changedVersions.size <= chunkSteps) steps.reduce(_.unionByName(_))
    else changedVersions.grouped(chunkSteps)
      .map(g => g.flatten.reduce(_.unionByName(_)).localCheckpoint(true))
      .reduce(_.unionByName(_))
  }

  /** Schema evolution, additive form: append nullable columns as a
    * METADATA-ONLY commit — the new manifest carries the widened
    * schema over the SAME files (zero data movement at any table
    * size). Old files simply lack the columns; every read passes the
    * manifest's schema explicitly, so the parquet reader null-fills
    * them — and time travel keeps working because each version's
    * manifest carries ITS OWN schema (asOf(v) before the evolve reads
    * the narrow shape). Later merges rewrite touched files in the
    * widened shape; untouched files stay narrow forever, which is the
    * lakehouse norm. Returns the committed version. */
  def addColumns(spark: SparkSession, loc: HPath, ddl: String): Int = {
    Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
      val m = head(spark, loc).getOrElse(
        sys.error(s"snap $loc: addColumns on a table that never committed"))
      val gate = () => Published.assertLeaseOwned(loc)
      val add = StructType.fromDDL(ddl)
      // CASE-INSENSITIVE clash check (review finding): Spark analysis
      // is case-insensitive by default, so a case-variant duplicate
      // would commit a head whose explicit-schema reads all throw —
      // permanently, since there is no drop-column API
      val existing = m.schema.fieldNames.map(_.toLowerCase).toSet
      val clash = add.fieldNames.filter(n => existing.contains(n.toLowerCase))
      require(clash.isEmpty,
        s"snap $loc: column(s) ${clash.mkString(",")} already exist — " +
          "additive evolution only (no type changes)")
      // PHYSICAL slots too: a new column may not reuse the on-file name
      // of a dropped or renamed-away column — files written before that
      // evolution still carry the old bytes under that name, and the
      // explicit-schema read would silently serve them as the NEW
      // column's values
      val usedPhys = (m.schema.fieldNames.map(m.physicalOf) ++ m.retired)
        .map(_.toLowerCase).toSet
      val physClash = add.fieldNames.filter(n => usedPhys.contains(n.toLowerCase))
      require(physClash.isEmpty,
        s"snap $loc: column(s) ${physClash.mkString(",")} would reuse a " +
          "physical slot still occupied in old files (dropped or renamed " +
          "column history) — pick a different name")
      require(add.fieldNames.map(_.toLowerCase).distinct.length ==
        add.fieldNames.length,
        s"snap $loc: duplicate column names within the added DDL")
      add.fieldNames.foreach(assertLegalColName)
      val widened = StructType(
        m.schema.fields ++ add.fields.map(_.copy(nullable = true)))
      val next = m.version + 1
      commitManifest(Published.fsOf(loc), loc,
        m.copy(version = next, parent = m.version, writer = newToken(),
          schemaDdl = widened.toDDL, op = "evolve", base = m.version), gate)
      next
    }
  }

  /** Rename a column — METADATA-ONLY at any table size: the new
    * manifest maps the new LOGICAL name onto the column's unchanged
    * PHYSICAL name, so no file is touched, every committed version
    * time-travels under its own name, and later writes keep landing
    * bytes under the stable physical. Key/bucket references follow the
    * rename. Returns the committed version. */
  def renameColumn(spark: SparkSession, loc: HPath,
                   from: String, to: String): Int = {
    Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
      val m = head(spark, loc).getOrElse(
        sys.error(s"snap $loc: renameColumn on a table that never committed"))
      val gate = () => Published.assertLeaseOwned(loc)
      require(m.schema.fieldNames.contains(from),
        s"snap $loc: no column '$from' to rename")
      require(to.nonEmpty, s"snap $loc: empty column name")
      assertLegalColName(to)
      require(!m.schema.fieldNames.exists(n =>
          n != from && n.equalsIgnoreCase(to)),
        s"snap $loc: a column case-matching '$to' already exists " +
          "(Spark analysis is case-insensitive)")
      val physName = m.physicalOf(from)
      val renamed = StructType(m.schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      val newPhys = (m.phys - from) ++
        (if (physName != to) Map(to -> physName) else Map.empty)
      val next = m.version + 1
      commitManifest(Published.fsOf(loc), loc,
        m.copy(version = next, parent = m.version, writer = newToken(),
          schemaDdl = renamed.toDDL,
          keyCols = m.keyCols.map(k => if (k == from) to else k),
          bucketCol = if (m.bucketCol == from) to else m.bucketCol,
          op = "evolve", base = m.version, phys = newPhys,
          statsCols = m.statsCols.map(c => if (c == from) to else c),
          z2 = if (m.z2 == from) to else m.z2), gate)
      next
    }
  }

  /** Drop a non-key column — METADATA-ONLY: the manifest's schema
    * shrinks, the column's physical slot is RETIRED (old files keep
    * its bytes harmlessly — explicit-schema reads never ask for them;
    * [[addColumns]] refuses to reuse the slot), and files rewritten by
    * later merges simply omit it. Time travel to a pre-drop version
    * reads the column back. Returns the committed version. */
  def dropColumn(spark: SparkSession, loc: HPath, name: String): Int = {
    Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
      val m = head(spark, loc).getOrElse(
        sys.error(s"snap $loc: dropColumn on a table that never committed"))
      val gate = () => Published.assertLeaseOwned(loc)
      require(m.schema.fieldNames.contains(name),
        s"snap $loc: no column '$name' to drop")
      require(!m.keyCols.contains(name) && m.bucketCol != name,
        s"snap $loc: '$name' is a key/bucket column — the merge contract " +
          "stands on it; refuse rather than orphan the table's identity")
      val shrunk = StructType(m.schema.fields.filterNot(_.name == name))
      val next = m.version + 1
      commitManifest(Published.fsOf(loc), loc,
        m.copy(version = next, parent = m.version, writer = newToken(),
          schemaDdl = shrunk.toDDL, op = "evolve", base = m.version,
          phys = m.phys - name, retired = m.retired :+ m.physicalOf(name),
          statsCols = m.statsCols.filterNot(_ == name)), gate)
      next
    }
  }

  /** Fold small files: every bucket holding ≥ `minFilesPerBucket` live
    * files — base AND merge-on-read delta files — is rewritten to ONE
    * file with its deltas applied and retired; every other file (and
    * every other bucket's deltas) carries by reference. Content-
    * neutral by construction: the MOR apply is exactly what readers
    * already compute, moved into the base (a pure physical rewrite —
    * the changelog skips `optimize` commits by contract, and that
    * contract now includes the delta fold). Committed through the same
    * single manifest-create point as merge, so the leg-G-executed
    * crash story (head never advances before the create; torn creates
    * fall back and sweep; landed creates are durable) covers it
    * unchanged. Returns the committed version, or the head's if
    * nothing folded.
    *
    * At 100 TB: reads and writes ONLY the folded buckets' bytes; the
    * decision is manifest metadata. Old files stay for time travel
    * until [[vacuum]]. */
  def optimize(spark: SparkSession, loc: HPath,
               minFilesPerBucket: Int = 2): Int = {
    require(minFilesPerBucket >= 2, "folding below 2 files is a no-op")
    Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
      val m = head(spark, loc).getOrElse(
        sys.error(s"snap $loc: optimize on a table that never committed"))
      val gate = () => Published.assertLeaseOwned(loc)
      val fs = Published.fsOf(loc)
      val fat = (m.files ++ m.deltas ++ m.dvs).groupBy(_.bucket)
        .filter(_._2.size >= minFilesPerBucket).keySet
      if (fat.isEmpty) m.version
      else {
        val (fold, carry) = m.files.partition(f => fat.contains(f.bucket))
        val (foldD, carryD) = m.deltas.partition(f => fat.contains(f.bucket))
        val foldNames = fold.map(f => fileNameOf(f.path)).toSet
        val (foldV, carryV) =
          m.dvs.partition(v => foldNames.contains(dvTargetOf(v)))
        val token = newToken()
        val next = m.version + 1
        val files = carry ++
          stageDataFiles(spark, loc, m,
            morApplied(spark, loc, m, fold, foldD, foldV), next, token, gate)
        graft.RestartKit.crashWindow("snapstage", SnapHaltEnv)
        commitManifest(fs, loc, m.copy(version = next, parent = m.version,
          writer = token, files = files, op = "optimize", base = m.version,
          deltas = carryD, dvs = carryV), gate)
        next
      }
    }
  }

  /** Re-bucket the table — the bucket-topology evolution axis that
    * [[create]] froze: rewrite every (resolved) row under a NEW bucket
    * count, with the range/zorder dimension bounds re-derived from the
    * CURRENT data, as one op-tagged commit. Why it exists: a table
    * created at 16 buckets that grows 100× ends up with fat bucket
    * files no O(delta) merge can touch cheaply, and on range layout
    * every post-create key CLAMPS into the top bucket (q133's append
    * shape) — after a rebucket those keys re-spread and the next
    * merge's rewrite set shrinks back to O(delta).
    *
    * Contracts: row-set-neutral (a pure physical re-layout — the
    * changelog skips `rebucket` like `optimize`); outstanding
    * merge-on-read deltas fold into the rewrite; old versions keep
    * serving mid- and post-rebucket (immutable files + their own
    * manifests); an OCC rival staged against the old topology RETRIES
    * at its commit point (the rebase test refuses a topology change —
    * its staged bucket ids would be stale). O(table) cost by nature,
    * scheduled like a major compaction and amortized against every
    * later merge. Returns the committed version. */
  def rebucket(spark: SparkSession, loc: HPath, newBuckets: Int): Int = {
    require(newBuckets >= 1, "need at least one bucket")
    Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
      val m = head(spark, loc).getOrElse(
        sys.error(s"snap $loc: rebucket on a table that never committed"))
      val gate = () => Published.assertLeaseOwned(loc)
      val fs = Published.fsOf(loc)
      val data = morApplied(spark, loc, m, m.files, m.deltas, m.dvs)
      def dimRange(c: String): (Long, Long) = {
        val r = data.agg(min(col(c).cast("long")),
          max(col(c).cast("long"))).head
        if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
      }
      val (rMin, rMax) =
        if (m.layout == "hash") (0L, 0L) else dimRange(m.bucketCol)
      val (z2Lo, z2Hi) =
        if (m.layout == "zorder") dimRange(m.z2) else (0L, 0L)
      val token = newToken()
      val next = m.version + 1
      // the NEW topology drives the staging bucket math
      val m2 = m.copy(version = next, parent = m.version, writer = token,
        buckets = newBuckets, rangeMin = rMin, rangeMax = rMax,
        z2Min = z2Lo, z2Max = z2Hi, op = "rebucket", base = m.version,
        deltas = Seq.empty, dvs = Seq.empty)
      val files = stageDataFiles(spark, loc, m2, data, next, token, gate)
      graft.RestartKit.crashWindow("snapstage", SnapHaltEnv)
      commitManifest(fs, loc, m2.copy(files = files), gate)
      next
    }
  }

  /** Drop data nothing can reach: keep the newest `keepVersions`
    * committed manifests, delete every data file referenced by NONE of
    * them, sweep older + torn manifests and orphaned staging debris
    * (dead writers' crashes before their commit point). Time travel
    * past the kept horizon becomes a loud [[atVersion]] error.
    * Returns (manifests swept, data files deleted, stage dirs swept). */
  def vacuum(spark: SparkSession, loc: HPath,
             keepVersions: Int = 2): (Int, Int, Int) = {
    require(keepVersions >= 1, "must keep at least the head")
    Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
      val gate = () => Published.assertLeaseOwned(loc)
      val fs = Published.fsOf(loc)
      val all = listManifests(fs, loc)
      // readDefinitive: a present-but-unreadable manifest ABORTS the
      // vacuum loudly — guessing "dead" there would delete a committed
      // snapshot over a read blip
      val valid = all.flatMap { case (v, p) =>
        readDefinitive(fs, p).getOrElse(None).map(m => (v, p, m)) }
      val kept = valid.take(keepVersions)
      require(kept.nonEmpty, s"snap $loc: nothing committed to vacuum")
      val keptV = kept.map(_._1).toSet
      // unpublished BRANCH chains pin their files too — sweeping a
      // staged-but-not-yet-audited branch's data would corrupt the
      // write-audit-publish flow ([[SnapBranch]])
      val branchLive = SnapBranch.allBranchManifests(fs, loc)
        .flatMap(p => readDefinitive(fs, p).getOrElse(None))
        .flatMap(m => (m.files ++ m.deltas ++ m.dvs).map(_.path)).toSet
      val live = kept.flatMap(m =>
        (m._3.files ++ m._3.deltas ++ m._3.dvs).map(_.path)).toSet ++
        branchLive
      var manifests = 0
      all.filterNot { case (v, _) => keptV.contains(v) }.foreach { case (_, p) =>
        gate(); Published.deleteIfExists(fs, p); manifests += 1
      }
      var dataFiles = 0
      val dataDir = new HPath(loc, "data")
      if (Published.exists(fs, dataDir)) {
        Published.retryIO(gate)(fs.listStatus(dataDir)).foreach { st =>
          if (!live.contains("data/" + st.getPath.getName)) {
            gate(); Published.deleteIfExists(fs, st.getPath); dataFiles += 1
          }
        }
      }
      var stages = 0
      Published.retryIO(gate)(fs.listStatus(loc)).foreach { st =>
        // AGE GUARD (new with mergeOcc): an optimistic writer stages
        // WITHOUT the lease, so a fresh stage dir may belong to a LIVE
        // racer — sweeping it would fail that writer's promote for no
        // reason. A dir is debris only when BOTH it and its `_live`
        // liveness marker (rewritten every leaseStaleMs/4 by the
        // stager's heartbeat — [[StageHeartbeat]]) have aged past the
        // stale threshold: staging is the unbounded phase, and the dir
        // mtime alone stops moving once the write job lands (r18
        // advice — a long stats read-back would have let a rival sweep
        // a healthy stager). A kill -9'd writer stops heartbeating and
        // ages out as before. data/ needs no guard: promotion is
        // lease-held, so unreferenced data files here are crash debris.
        if (st.isDirectory && st.getPath.getName.startsWith("stage-v") &&
            Published.ageOf(fs, st.getPath) > Published.leaseStaleMs) {
          val marker = new HPath(st.getPath, "_live")
          val liveStager = Published.exists(fs, marker) &&
            Published.ageOf(fs, marker) <= Published.leaseStaleMs
          if (!liveStager) {
            gate(); Published.retryIO(gate)(fs.delete(st.getPath, true))
            stages += 1
          }
        }
      }
      (manifests, dataFiles, stages)
    }
  }

  /** Remove the table entirely (demo/rebuild path). */
  def drop(spark: SparkSession, loc: HPath): Unit =
    Published.withLeaseAwaiting(loc, s"snap:${loc.getName}") {
      val fs = Published.fsOf(loc)
      Published.retryIO()(fs.delete(loc, true))
    }

  /** Env var for the cross-JVM crash probes (leg G): set to a window
    * name ("snapstage" | "snapcommit") to halt there for real. */
  private[graft] val SnapHaltEnv = "SPARK_GRAFT_SNAP_HALT"

  /** Env var that makes the NEXT merge land a torn (footer-less)
    * manifest and halt — the mid-create crash state, produced across a
    * real process boundary. */
  private[graft] val SnapTornEnv = "SPARK_GRAFT_SNAP_TORN"
}
