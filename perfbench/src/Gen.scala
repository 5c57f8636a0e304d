package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Geo

/** Seeded inputs. Spark-side columns draw every random value as a hash of
  * (seed, salt, row id), so a table is the same whatever its partitioning;
  * JVM-side inputs come from a `SplittableRandom` seeded the same way. The
  * same seed always gives the same inputs. */
object Gen {
  private def mix(seed: Long, salt: Long): Long =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt).nextLong()

  def rng(seed: Long, salt: Long): SplittableRandom = new SplittableRandom(mix(seed, salt))

  /** Uniform integer in [0, n) for every row, keyed by `id`. */
  def draw(seed: Long, salt: Int, id: Column, n: Long): Column =
    pmod(xxhash64(lit(mix(seed, salt)), id), lit(n))

  private def oneOf(seed: Long, salt: Int, id: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (draw(seed, salt, id, xs.size) + 1).cast("int"))

  // ------------------------------------------------------------ geo catalog

  /** `n` boxes over the events' point space (lon −130.0…−64.1, lat
    * 24.0…49.9): one box per cell of a near-square grid, its edges moved
    * by a seeded amount so that neighbours overlap or leave gaps. Every
    * seed thus covers about the same share of the points, in boxes of
    * about the same size, and the work per event does not swing with the
    * seed. Bounds lie on the 0.1° grid the points live on, so box edges
    * are hit exactly and overlapping boxes tie; half the boxes carry the
    * reference's inverted east/west quirk; ids are shuffled against
    * position and zero-padded, so their string order is their number
    * order. */
  def catalog(seed: Long, n: Int): Seq[Geo.Region] = {
    val r = rng(seed, 11)
    val ids = mutable.ArrayBuffer.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) { // Fisher–Yates
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val cols = math.ceil(math.sqrt(n.toDouble)).toInt
    val rows = (n + cols - 1) / cols
    val (cw, ch) = (660 / cols, 260 / rows) // cell size in tenths of a degree
    (0 until n).map { k =>
      // each edge moves by up to a fifth of the cell, inwards or outwards
      def jitter(size: Int) = r.nextInt(2 * (size / 5) + 1) - size / 5
      val lo = math.max(-1300, -1300 + (k % cols) * cw + jitter(cw))
      val hi = math.min(-641, -1300 + (k % cols + 1) * cw + jitter(cw))
      val so = math.max(240, 240 + (k / cols) * ch + jitter(ch))
      val no = math.min(499, 240 + (k / cols + 1) * ch + jitter(ch))
      val (east, west) = if (r.nextBoolean()) (lo / 10.0, hi / 10.0) else (hi / 10.0, lo / 10.0)
      Geo.Region(f"Region ${ids(k)}%02d", f"R${ids(k)}%02d",
        (so + no) / 20.0, (lo + hi) / 20.0, no / 10.0, east, so / 10.0, west)
    }
  }

  /** The catalog in the reference's `locations.json` form. */
  def locationsJson(cat: Seq[Geo.Region]): String = cat.map { r =>
    s"""  {"name": "${r.name}", "ID": "${r.id}", "centerLat": ${r.centerLat}, """ +
      s""""centerLon": ${r.centerLon}, "north": ${r.north}, "east": ${r.east}, """ +
      s""""south": ${r.south}, "west": ${r.west}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  // ----------------------------------------------------------------- events

  /** First event id of a seed's event stream: distinct seeds give disjoint
    * id ranges, hence different points and region counts. */
  def eventIdBase(seed: Long): Long = 1000000L * (1 + java.lang.Math.floorMod(seed, 1000000L))

  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val Jan2024Micros = 1704067200000000L
  private val MonthMicros = 30L * 86400L * 1000000L

  /** Events with ids `base + [from, until)` in the `events` table schema;
    * `ts` is written without zone like the staged test tables. */
  def events(spark: SparkSession, seed: Long, base: Long, from: Long, until: Long,
             parts: Int): DataFrame = {
    val id = col("id")
    spark.range(from, until, 1, parts).select(
      (id + lit(base)).as("event_id"),
      timestamp_micros(lit(Jan2024Micros) + draw(seed, 1, id, MonthMicros))
        .cast("timestamp_ntz").as("ts"),
      draw(seed, 2, id, 1500).as("user_id"),
      oneOf(seed, 3, id, eventTypes).as("event_type"),
      (draw(seed, 4, id, 56022) / 100.0).as("value"),
      concat(lit("{\"k\": "), draw(seed, 5, id, 100).cast("string"), lit("}")).as("props"))
  }

  /** Write `df` (one partition per output file) and move its part files
    * to `dir/<prefix>-NNNN.parquet`, stamping modification times in file
    * order so a file stream picks them up in that order. */
  def writeFiles(df: DataFrame, staging: String, dir: String, prefix: String): Seq[Path] = {
    df.write.mode("overwrite").parquet(staging)
    Files.createDirectories(Paths.get(dir))
    val parts = Files.list(Paths.get(staging)).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
    val t0 = System.currentTimeMillis() - 86400000L
    parts.zipWithIndex.map { case (p, i) =>
      val dst = Paths.get(dir, f"$prefix-$i%04d.parquet")
      Files.move(p, dst, StandardCopyOption.ATOMIC_MOVE)
      dst.toFile.setLastModified(t0 + i * 1000L)
      dst
    }.toSeq
  }

  /** Write `df` as the single parquet file `dir/<name>.parquet`, the form
    * of the staged test tables (which DuckDB reads by file name). */
  def writeTable(df: DataFrame, dir: String, name: String): Unit = {
    val staging = s"$dir/.$name.staging"
    val files = writeFiles(df.coalesce(1), staging, s"$dir/.$name.out", name)
    Files.move(files.head, Paths.get(dir, s"$name.parquet"))
    Seq(s"$dir/.$name.out", staging).foreach(d => deleteTree(Paths.get(d)))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  // ------------------------------------------------------------- customers

  final case class Cust(name: String, nation: Int, cents: Long, segment: String)
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def customers(seed: Long, n: Int): mutable.LinkedHashMap[Long, Cust] = {
    val r = rng(seed, 21)
    val m = mutable.LinkedHashMap.empty[Long, Cust]
    (0 until n).foreach { k =>
      m(k.toLong) = Cust(f"Customer#$k%09d", r.nextInt(25),
        r.nextLong(1100000L) - 100000L, segments(r.nextInt(5)))
    }
    m
  }

  /** One merge delta: `_deleted` rows carry their key's current values. */
  final case class DeltaRow(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String, _deleted: Boolean)

  /** Generates a series of upsert/delete deltas against a table and keeps
    * the expected table. The deltas come in pairs. The first of a pair has
    * the shape of `SnapOps.delta1`, the hot-range CDC batch of the engine's
    * own customer lifecycle, scaled to the `n` keys of the table: it
    * updates a hot range of n/10 consecutive keys (+1000.00 balance, as
    * `delta1`), retires a disjoint range of n/20 consecutive keys and
    * inserts n/100 new keys past the largest; the ranges start at seeded
    * positions in key order. The second undoes the first — the old
    * balances back, the retired keys re-inserted, the new keys deleted —
    * so the table holds its starting content after every pair and the
    * work per commit does not drift through a series. [[apply]] replays a
    * delta on the in-memory map. */
  final class DeltaSeries(seed: Long, val table: mutable.LinkedHashMap[Long, Cust]) {
    private val r = rng(seed, 31)
    private var nextKey = table.keys.max + 1
    private var undo: Option[Seq[DeltaRow]] = None
    var keyChanges = 0L

    def next(): Seq[DeltaRow] = undo match {
      case Some(rows) => undo = None; rows
      case None =>
        val (delta, inverse) = hotRange()
        undo = Some(inverse)
        delta
    }

    private def row(k: Long, c: Cust, cents: Long, deleted: Boolean) =
      DeltaRow(k, c.name, c.nation, cents / 100.0, c.segment, deleted)

    /** A `delta1`-shaped delta and the delta that undoes it. */
    private def hotRange(): (Seq[DeltaRow], Seq[DeltaRow]) = {
      val keys = table.keys.toArray.sorted
      val n = keys.length
      val (upd, del, ins) = (n / 10, n / 20, math.max(1, n / 100))
      // index ranges in key order, wrapping; the retired range starts
      // after the hot one ends and ends before it starts again
      val hot = r.nextInt(n)
      val retired = hot + upd + r.nextInt(n - upd - del + 1)
      def at(i: Int) = { val k = keys(i % n); (k, table(k)) }
      val updates = (hot until hot + upd).map(at).map { case (k, c) =>
        (row(k, c, c.cents + 100000L, false), row(k, c, c.cents, false))
      }
      val deletes = (retired until retired + del).map(at).map { case (k, c) =>
        (row(k, c, c.cents, true), row(k, c, c.cents, false))
      }
      val inserts = (0 until ins).map { _ =>
        val k = nextKey; nextKey += 1
        val c = Cust(f"Customer#$k%09d", r.nextInt(25), r.nextLong(1100000L) - 100000L,
          segments(r.nextInt(5)))
        (row(k, c, c.cents, false), row(k, c, c.cents, true))
      }
      (updates ++ deletes ++ inserts).unzip
    }

    /** Replay a delta on the expected table (called once the merge committed). */
    def apply(rows: Seq[DeltaRow]): Unit = rows.foreach { d =>
      keyChanges += 1
      if (d._deleted) table.remove(d.c_custkey)
      else table(d.c_custkey) = Cust(d.c_name, d.c_nationkey, math.round(d.c_acctbal * 100), d.c_mktsegment)
    }
  }

  // --------------------------------------------------- operator-mix tables

  private val words = Seq("spark", "stream", "region", "tweet", "batch", "window", "join",
    "scan", "sort", "table", "query", "value", "key", "merge", "shuffle", "plan", "filter",
    "group", "order", "line", "part", "data", "column", "row", "fast", "slow", "big", "small",
    "the", "a", "of", "to", "index", "vector", "hash", "sketch", "graph", "rank", "edge", "node")

  /** The staged test tables' schemas at scale factor `sf` (sf 0.1: 600k
    * line items); the tables in `only` are written as `dir/<table>.parquet`. Documents include
    * exact and one-word-edited copies so the dedup operators find groups;
    * embeddings cluster around one center per label. */
  /** Rows of each generated table at scale factor 1. */
  private val rowsAtSf1: Map[String, Long] = Map("region" -> 5L, "nation" -> 25L,
    "customer" -> 150000L, "supplier" -> 10000L, "part" -> 200000L, "orders" -> 1500000L,
    "lineitem" -> 6000000L, "events" -> 1000000L, "documents" -> 50000L, "embeddings" -> 20000L)

  def tableRows(table: String, sf: Double): Long =
    if (table == "region" || table == "nation") rowsAtSf1(table)
    else math.max(1L, math.round(rowsAtSf1(table) * sf))

  def tables(spark: SparkSession, seed: Long, sf: Double, dir: String, only: Set[String]): Unit = {
    val id = col("id")
    def n(t: String) = tableRows(t, sf)
    def cents(salt: Int, lo: Long, hi: Long) = (draw(seed, salt, id, hi - lo) + lo) / 100.0
    def day(salt: Int, from: String, days: Long) =
      date_add(lit(from).cast("date"), draw(seed, salt, id, days).cast("int"))
        .cast("timestamp_ntz")
    val (nCust, nSupp, nPart, nOrd) = (n("customer"), n("supplier"), n("part"), n("orders"))
    val gen: Seq[(String, () => DataFrame)] = Seq(
      "region" -> (() => spark.range(5).select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (id + 1).cast("int")).as("r_name"))),
      "nation" -> (() => spark.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        (id % 5).cast("int").as("n_regionkey"))),
      "customer" -> (() => spark.range(nCust).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        draw(seed, 41, id, 25).cast("int").as("c_nationkey"),
        cents(42, -100000, 1000000).as("c_acctbal"),
        oneOf(seed, 43, id, segments).as("c_mktsegment"))),
      "supplier" -> (() => spark.range(nSupp).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        draw(seed, 51, id, 25).cast("int").as("s_nationkey"),
        cents(52, -100000, 1000000).as("s_acctbal"))),
      "part" -> (() => spark.range(nPart).select(id.as("p_partkey"),
        concat_ws(" ", oneOf(seed, 61, id, Seq("small", "red", "blue", "hot", "cold", "new")),
          oneOf(seed, 62, id, Seq("ring", "widget", "bolt", "gear", "rod", "plate", "anvil")))
          .as("p_name"),
        concat(lit("Brand#"), (draw(seed, 63, id, 25) + 1).cast("string")).as("p_brand"),
        oneOf(seed, 64, id, Seq("ECONOMY", "SMALL", "LARGE", "STANDARD", "MEDIUM", "PROMO"))
          .as("p_type"),
        (draw(seed, 65, id, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice"))),
      "orders" -> (() => spark.range(nOrd).select(id.as("o_orderkey"),
        draw(seed, 71, id, nCust).as("o_custkey"),
        oneOf(seed, 72, id, Seq("F", "O", "P")).as("o_orderstatus"),
        cents(73, 100000, 50000000).as("o_totalprice"),
        day(74, "1995-01-01", 2405).as("o_orderdate"),
        oneOf(seed, 75, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority"))),
      "lineitem" -> (() => spark.range(n("lineitem")).select((id / 4).cast("long").as("l_orderkey"),
        // a fifth of the lines buy one of 300 popular parts, so parts are
        // co-purchased often enough for the part graph to have triangles
        when(draw(seed, 80, id, 5) === 0, draw(seed, 79, id, 300))
          .otherwise(draw(seed, 81, id, nPart)).as("l_partkey"),
        draw(seed, 82, id, nSupp).as("l_suppkey"),
        (id % 4 + 1).cast("int").as("l_linenumber"),
        (draw(seed, 83, id, 50) + 1).cast("double").as("l_quantity"),
        cents(84, 90000, 10500000).as("l_extendedprice"),
        (draw(seed, 85, id, 11) / 100.0).as("l_discount"),
        (draw(seed, 86, id, 9) / 100.0).as("l_tax"),
        oneOf(seed, 87, id, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf(seed, 88, id, Seq("F", "O")).as("l_linestatus"),
        day(89, "1995-01-02", 2498).as("l_shipdate"))),
      "events" -> (() => events(spark, seed, 0L, 0L, n("events"), 1)),
      "documents" -> (() => documents(spark, seed, n("documents"))),
      "embeddings" -> (() => embeddings(spark, seed, n("embeddings"))))
    // one single-file write per table; run the writes side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = gen.filter(t => only(t._1)).map { case (t, df) => pool.submit(new Runnable {
        def run(): Unit = writeTable(df(), dir, t)
      }) }
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  private def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val vocab = array(words.map(lit): _*)
    // base text of a document: `len` words drawn from the vocabulary
    def text(of: Column) = array_join(transform(
      sequence(lit(1), (pmod(xxhash64(lit(seed), lit(91), of), lit(70L)) + 6).cast("int")),
      i => element_at(vocab, (pmod(xxhash64(lit(seed), lit(92), of, i), lit(words.size.toLong)) + 1)
        .cast("int"))), " ")
    val kind = draw(seed, 93, id, 20) // 0: exact copy of the previous doc, 1: one word edited
    val src = when(kind === 0 && id > 0, id - 1).when(kind === 1 && id > 0, id - 1).otherwise(id)
    val base = text(src)
    val edited = when(kind === 1 && id > 0,
      concat(base, lit(" "), element_at(vocab, (draw(seed, 94, id, words.size) + 1).cast("int"))))
      .otherwise(base)
    spark.range(n).select(id.as("doc_id"), edited.as("text"),
        oneOf(seed, 95, id, Seq("en", "en", "en", "en", "de", "fr")).as("lang"),
        concat(lit("src"), draw(seed, 96, id, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val label = draw(seed, 101, id, 10)
    def unit(h: Column) = (pmod(h, lit(20001L)) - 10000) / 40000.0
    spark.range(n).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        (unit(xxhash64(lit(seed), lit(102), label, d)) +
          unit(xxhash64(lit(seed), lit(103), id, d)) / 2).cast("float")).as("embedding"),
      label.cast("int").as("label"))
  }
}
