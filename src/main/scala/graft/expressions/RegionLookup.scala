package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Uniform-grid index over a box catalog — the raster half of Raptor's
  * raster/vector lookup (VLDB 2019, PAPERS.md), built once per catalog.
  *
  * Semantics are those of an ordered scan of the whole catalog: boxes are
  * ranked by ascending `id` (Java String order, as `sortBy(_.id)`), a
  * point belongs to the first box with `lo <= x <= hi && south <= y <=
  * north` (inclusive), and a point in no box gets `NONE`. The grid only
  * narrows the scan: box k is entered into every cell
  * `cellX(lo)..cellX(hi)` × `cellY(south)..cellY(north)`, and a point
  * scans the candidates of cell (cellX(x), cellY(y)) in rank order.
  * `cell` is one non-decreasing function shared by build and lookup, so a
  * point inside a box always lands in a cell that lists the box.
  *
  * Resolution comes from the catalog: a cell is about the mean box size,
  * capped at max(64, 4·boxes) cells and then coarsened until the cell
  * entries number at most 16·boxes + 1024 — so nested, all-covering
  * catalogs degrade to a few cells scanned in rank order, never to an
  * entry count of boxes × cells.
  */
final class RegionIndex private (
    minX: Double, maxX: Double, minY: Double, maxY: Double,
    private[graft] val nx: Int, private[graft] val ny: Int,
    sx: Double, sy: Double,
    cellStart: Array[Int], entryId: Array[UTF8String],
    eLo: Array[Double], eHi: Array[Double], eSouth: Array[Double], eNorth: Array[Double]
) extends Serializable {

  /** Id of the lowest-ranked box containing (x, y), or `NONE`. A NaN
    * coordinate fails the extent test and maps to `NONE`. */
  def lookup(x: Double, y: Double): UTF8String = {
    if (!(x >= minX && x <= maxX && y >= minY && y <= maxY)) return RegionIndex.NoneId
    val c = RegionIndex.cell(y - minY, sy, ny) * nx + RegionIndex.cell(x - minX, sx, nx)
    var i = cellStart(c)
    val end = cellStart(c + 1)
    while (i < end) {
      if (x >= eLo(i) && x <= eHi(i) && y >= eSouth(i) && y <= eNorth(i))
        return entryId(i)
      i += 1
    }
    RegionIndex.NoneId
  }

  /** The miss value, for generated code. */
  def none(): UTF8String = RegionIndex.NoneId

  /** Interior x / y cell boundaries, for tests that aim points at them. */
  private[graft] def cellEdges: (Seq[Double], Seq[Double]) = (
    (1 until nx).map(k => minX + k * (maxX - minX) / nx),
    (1 until ny).map(k => minY + k * (maxY - minY) / ny))
}

object RegionIndex {
  val NoneId: UTF8String = UTF8String.fromString("NONE")

  /** `array<struct<id, lo, hi, south, north>>`, the catalog literal. */
  val catalogType: ArrayType = ArrayType(StructType(Seq(
    StructField("id", StringType), StructField("lo", DoubleType),
    StructField("hi", DoubleType), StructField("south", DoubleType),
    StructField("north", DoubleType))))

  def isCatalogType(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(fs), _) =>
      fs.map(f => (f.name, f.dataType)).toSeq ==
        catalogType.elementType.asInstanceOf[StructType].fields.map(f => (f.name, f.dataType)).toSeq
    case _ => false
  }

  private val MaxSide = 4096
  private val MaxCells = 1 << 20

  /** Cell of offset `d >= 0` from the grid origin, at `s` cells per unit,
    * clamped to the last of `n` cells. Non-decreasing in `d`. */
  @inline private[expressions] def cell(d: Double, s: Double, n: Int): Int = {
    val c = (d * s).toInt
    if (c >= n) n - 1 else c
  }

  /** Reject what an ordered scan could not answer sensibly: a null id or
    * a bound that is null, NaN or infinite. */
  def check(k: Int, id: String, lo: Double, hi: Double, south: Double, north: Double): Unit = {
    require(id != null, s"region catalog: entry $k has a null id")
    Seq("lo" -> lo, "hi" -> hi, "south" -> south, "north" -> north).foreach { case (f, v) =>
      require(!v.isNaN && !v.isInfinite,
        s"region catalog: region '$id' has a non-finite $f bound ($v)")
    }
  }

  /** Index over the evaluated catalog literal ([[catalogType]]). */
  def fromCatalog(value: Any): RegionIndex = {
    val arr = value.asInstanceOf[ArrayData]
    require(arr != null, "region catalog is null")
    val n = arr.numElements()
    val ids = new Array[String](n)
    val b = Array.fill(4)(new Array[Double](n))
    for (k <- 0 until n) {
      require(!arr.isNullAt(k), s"region catalog: entry $k is null")
      val r = arr.getStruct(k, 5)
      ids(k) = if (r.isNullAt(0)) null else r.getUTF8String(0).toString
      for (f <- 0 until 4) b(f)(k) = if (r.isNullAt(f + 1)) Double.NaN else r.getDouble(f + 1)
    }
    build(ids, b(0), b(1), b(2), b(3))
  }

  def build(ids: Array[String], lo: Array[Double], hi: Array[Double],
            south: Array[Double], north: Array[Double]): RegionIndex = {
    for (k <- ids.indices) check(k, ids(k), lo(k), hi(k), south(k), north(k))
    // rank order = ascending id; boxes that contain nothing are dropped
    val live = ids.indices.sortBy(ids(_))
      .filter(k => lo(k) <= hi(k) && south(k) <= north(k)).toArray
    if (live.isEmpty)
      return new RegionIndex(0, -1, 0, -1, 1, 1, 0, 0,
        Array(0, 0), Array.empty, Array.emptyDoubleArray,
        Array.emptyDoubleArray, Array.emptyDoubleArray, Array.emptyDoubleArray)
    val m = live.length
    val minX = live.map(lo(_)).min
    val maxX = live.map(hi(_)).max
    val minY = live.map(south(_)).min
    val maxY = live.map(north(_)).max

    def side(extent: Double, mean: Double): Int =
      if (!(extent > 0)) 1
      else if (!(mean > 0)) MaxSide
      else math.ceil(math.min(MaxSide.toDouble, extent / mean)).toInt.max(1)
    var nx = side(maxX - minX, live.map(k => hi(k) - lo(k)).sum / m)
    var ny = side(maxY - minY, live.map(k => north(k) - south(k)).sum / m)
    val maxCells = math.min(MaxCells, math.max(64, 4 * m))
    while (nx.toLong * ny > maxCells) {
      if (nx >= ny) nx = (nx + 1) / 2 else ny = (ny + 1) / 2
    }
    def scale(extent: Double, cells: Int): Double = if (extent > 0) cells / extent else 0.0
    def entries(nx: Int, ny: Int): Long = {
      val (sx, sy) = (scale(maxX - minX, nx), scale(maxY - minY, ny))
      live.iterator.map { k =>
        (cell(hi(k) - minX, sx, nx) - cell(lo(k) - minX, sx, nx) + 1).toLong *
          (cell(north(k) - minY, sy, ny) - cell(south(k) - minY, sy, ny) + 1)
      }.sum
    }
    val maxEntries = 16L * m + 1024
    while (nx.toLong * ny > 1 && entries(nx, ny) > maxEntries) {
      nx = (nx + 1) / 2
      ny = (ny + 1) / 2
    }
    val (sx, sy) = (scale(maxX - minX, nx), scale(maxY - minY, ny))

    // CSR layout: cell c's candidates are entries cellStart(c) until
    // cellStart(c + 1), box ids and bounds copied in so a scan reads one run
    val cells = nx * ny
    val cellStart = new Array[Int](cells + 1)
    def cover(rank: Int)(f: Int => Unit): Unit = {
      val k = live(rank)
      val (x0, x1) = (cell(lo(k) - minX, sx, nx), cell(hi(k) - minX, sx, nx))
      val (y0, y1) = (cell(south(k) - minY, sy, ny), cell(north(k) - minY, sy, ny))
      for (cy <- y0 to y1; cx <- x0 to x1) f(cy * nx + cx)
    }
    for (r <- 0 until m) cover(r)(c => cellStart(c + 1) += 1)
    for (c <- 0 until cells) cellStart(c + 1) += cellStart(c)
    val total = cellStart(cells)
    val fill = cellStart.clone()
    val entryId = new Array[UTF8String](total)
    val Seq(eLo, eHi, eSouth, eNorth) = Seq.fill(4)(new Array[Double](total))
    // ranks ascend, so each cell's run is already in rank order
    for (r <- 0 until m) {
      val k = live(r)
      val id = UTF8String.fromString(ids(k))
      cover(r) { c =>
        val i = fill(c)
        entryId(i) = id
        eLo(i) = lo(k); eHi(i) = hi(k); eSouth(i) = south(k); eNorth(i) = north(k)
        fill(c) = i + 1
      }
    }
    new RegionIndex(minX, maxX, minY, maxY, nx, ny, sx, sy,
      cellStart, entryId, eLo, eHi, eSouth, eNorth)
  }
}

/** `graft_region(catalog, lon, lat)`: id of the lowest-id catalog box
  * containing the point, `'NONE'` when none does or a coordinate is null
  * or NaN. `catalog` is a constant `array<struct<id, lo, hi, south,
  * north>>` ([[RegionIndex.catalogType]]); the [[RegionIndex]] over it is
  * built once per expression instance, and generated code reaches it as a
  * reference object — the code is the same few lines whatever the catalog
  * size. The interpreted `eval` calls the same `lookup`. */
case class RegionLookup(catalog: Expression, lon: Expression, lat: Expression)
    extends TernaryExpression {

  override def first: Expression = catalog
  override def second: Expression = lon
  override def third: Expression = lat

  override def checkInputDataTypes(): TypeCheckResult =
    if (!RegionIndex.isCatalogType(catalog.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"graft_region expects a catalog of type ${RegionIndex.catalogType.sql}, " +
          s"got ${catalog.dataType.sql}")
    else if (!catalog.foldable)
      TypeCheckResult.TypeCheckFailure("graft_region expects a constant catalog")
    else if (lon.dataType != DoubleType || lat.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_region expects double coordinates, got " +
          s"${lon.dataType.sql} and ${lat.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StringType

  override def nullable: Boolean = false

  override def prettyName: String = "graft_region"

  @transient private lazy val index: RegionIndex = RegionIndex.fromCatalog(catalog.eval())

  override def eval(input: InternalRow): Any = {
    val x = lon.eval(input)
    val y = lat.eval(input)
    if (x == null || y == null) RegionIndex.NoneId
    else index.lookup(x.asInstanceOf[Double], y.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("regionIndex", index)
    val x = lon.genCode(ctx)
    val y = lat.genCode(ctx)
    ev.copy(code = code"""
      |${x.code}
      |${y.code}
      |UTF8String ${ev.value} = (${x.isNull} || ${y.isNull})
      |  ? $idx.none() : $idx.lookup(${x.value}, ${y.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  /** Plan strings name the catalog by size: a 10,000-box literal would
    * otherwise be printed into every explain and execution event. */
  override def toString: String = {
    val boxes = catalog.dataType match {
      case _: ArrayType if catalog.foldable =>
        Option(catalog.eval()).fold("null")(a => s"<${a.asInstanceOf[ArrayData].numElements()} regions>")
      case _ => catalog.toString
    }
    s"$prettyName($boxes, $lon, $lat)"
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): RegionLookup =
    copy(catalog = newFirst, lon = newSecond, lat = newThird)
}
