package graft.geo

import graft.functions.CellRange
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Hierarchical quadkey cell index (H3/S2-style, from scratch — no external
  * geo-index jar exists in this sandbox).
  *
  * A square world `[originX, originX+size) × [originY, originY+size)` is cut
  * into a `2^level × 2^level` grid; a cell id packs the zoom level and the
  * Morton (Z-order) bit-interleave of (col, row) into one non-negative Long:
  *
  * {{{ cellId = (level << 58) | interleave(col, row) }}}
  *
  * Levels 0..28 (28 bits per axis → 56 interleaved bits < 58). Z-order keeps
  * spatially-near cells numerically near, so range scans / partition pruning
  * over `cellId` behave like a coarse spatial index — this is the engine's
  * analog of the reference's fixed tile grid + `tile_{col}-{row}` naming
  * (reference: tiles.py:52-54,122-124) lifted to a resolution hierarchy.
  *
  * A cell exists in three synchronized forms, cross-checked by a spec:
  *   - pure Scala (`encode`) for kernels and tests;
  *   - Spark `Column` builders (`encodeCol`/…): built-in shiftleft/and/or;
  *   - ANSI-SQL string emitters (`*Sql`) for the DuckDB correctness oracle.
  * A cell rectangle (a cover, a disk) has one spelling, [[CellIndex.cellRange]],
  * which the native column form [[CellIndex.cellRangeCol]] calls on both eval paths.
  */
final case class CellIndex(originX: Double, originY: Double, size: Double) {

  import CellIndex._

  // ---------- pure Scala ----------

  /** Finest supported zoom (28 bits per axis — see class doc). */
  val maxLevel: Int = 28

  def cellSize(level: Int): Double = size / (1L << level).toDouble

  def colOf(x: Double, level: Int): Long =
    clamp(math.floor((x - originX) / cellSize(level)).toLong, level)

  def rowOf(y: Double, level: Int): Long =
    clamp(math.floor((y - originY) / cellSize(level)).toLong, level)

  def encode(x: Double, y: Double, level: Int): Long =
    pack(level, colOf(x, level), rowOf(y, level))

  /** Cell ids at Chebyshev distance exactly `k` (k=0 → the cell itself),
    * clamped at world borders. Generalizes the reference's ±1 tile
    * neighbourhood (tiles.py:241-249) to arbitrary ring radius for kNN. */
  def ring(cell: Long, k: Int): Seq[Long] = {
    val (c, r) = (colDecode(cell), rowDecode(cell))
    disk(cell, k).filter(d => math.max(math.abs(colDecode(d) - c), math.abs(rowDecode(d) - r)) == k)
  }

  /** Cells at Chebyshev distance ≤ k (the closed disk), clamped at world
    * borders: the square that kNN's ring join explodes. */
  def disk(cell: Long, k: Int): Seq[Long] = {
    val lvl = levelOf(cell); val last = (1L << lvl) - 1
    val (c, r) = (colDecode(cell), rowDecode(cell))
    cellRange(lvl, math.max(c - k, 0L), math.min(c + k, last), math.max(r - k, 0L), math.min(r + k, last)).toSeq
  }

  private def clamp(v: Long, level: Int): Long =
    math.min(math.max(v, 0L), (1L << level) - 1L)

  // ---------- Spark Column builders (codegen-friendly, UDF-free) ----------

  def colOfCol(x: Column, level: Int): Column =
    clampCol(floor((x - lit(originX)) / lit(cellSize(level))).cast("long"), level)

  def rowOfCol(y: Column, level: Int): Column =
    clampCol(floor((y - lit(originY)) / lit(cellSize(level))).cast("long"), level)

  def encodeCol(x: Column, y: Column, level: Int): Column =
    packCol(level, colOfCol(x, level), rowOfCol(y, level))

  /** Array column of the ids of every cell at `level` whose box intersects
    * the closed envelope, in [[CellIndex.cellRange]] order (explode
    * downstream). */
  def cellsCoveringCol(xmin: Column, ymin: Column, xmax: Column, ymax: Column, level: Int): Column =
    cellRangeCol(level, colOfCol(xmin, level), colOfCol(xmax, level), rowOfCol(ymin, level), rowOfCol(ymax, level))

  // not greatest/least, which skip nulls: a null coordinate gives a null
  // cell, as a comparison with null falls through to `otherwise(v)`
  private def clampCol(v: Column, level: Int): Column = {
    val last = (1L << level) - 1L
    when(v < 0L, 0L).when(v > last, last).otherwise(v)
  }
}

object CellIndex {

  /** Web-Mercator world (EPSG:3857 square extent) — the default geo world. */
  val WebMercator: CellIndex = {
    val half = 20037508.342789244
    CellIndex(-half, -half, 2 * half)
  }

  /** Integer unit world [0, 2^20)² used by the oracle-checked queries:
    * all coordinates stay integral so Spark and DuckDB agree bit-for-bit. */
  val Unit20: CellIndex = CellIndex(0.0, 0.0, 1048576.0)

  private val M0 = 0x0000FFFF0000FFFFL
  private val M1 = 0x00FF00FF00FF00FFL
  private val M2 = 0x0F0F0F0F0F0F0F0FL
  private val M3 = 0x3333333333333333L
  private val M4 = 0x5555555555555555L

  // ---------- pure Scala codec ----------

  /** Spread the low 28 bits of v to even bit positions. */
  def spread(v: Long): Long = {
    var x = v & 0x0FFFFFFFL
    x = (x | (x << 16)) & M0
    x = (x | (x << 8)) & M1
    x = (x | (x << 4)) & M2
    x = (x | (x << 2)) & M3
    x = (x | (x << 1)) & M4
    x
  }

  /** Inverse of spread: gather even bit positions back to the low 28 bits. */
  def gather(v: Long): Long = {
    var x = v & M4
    x = (x | (x >> 1)) & M3
    x = (x | (x >> 2)) & M2
    x = (x | (x >> 4)) & M1
    x = (x | (x >> 8)) & M0
    x = (x | (x >> 16)) & 0x0FFFFFFFL
    x
  }

  def interleave(col: Long, row: Long): Long = spread(col) | (spread(row) << 1)

  def pack(level: Int, col: Long, row: Long): Long =
    (level.toLong << 58) | interleave(col, row)

  def levelOf(cell: Long): Int = ((cell >> 58) & 0x1FL).toInt
  def colDecode(cell: Long): Long = gather(cell & MORTON_MASK)
  def rowDecode(cell: Long): Long = gather((cell & MORTON_MASK) >> 1)
  private val MORTON_MASK = (1L << 58) - 1L

  /** Packed ids at `level` of the cells (c, r) with c0 ≤ c ≤ c1 and
    * r0 ≤ r ≤ r1, c outer and r inner: the one enumeration of a cell
    * rectangle, which covers, disks and the `CellRange` expression call.
    * An inverted range (c0 > c1 or r0 > r1) gives no cells. A rectangle of
    * more than `MAX_ROUNDED_ARRAY_LENGTH` cells, the limit of a Spark
    * array, is refused before anything is allocated. */
  def cellRange(level: Int, c0: Long, c1: Long, r0: Long, r1: Long): Array[Long] = {
    if (c0 > c1 || r0 > r1) return Array.emptyLongArray
    val (nc, nr, limit) = (c1 - c0 + 1, r1 - r0 + 1, ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH) // < 0 on overflow
    if (nc <= 0 || nr <= 0 || nc > limit / nr) throw new IllegalArgumentException(
      s"a cell range of ${(BigInt(c1) - c0 + 1) * (BigInt(r1) - r0 + 1)} cells exceeds the array limit of $limit")
    val out = new Array[Long]((nc * nr).toInt)
    var i = 0
    while (i < out.length) { out(i) = pack(level, c0 + i / nr, r0 + i % nr); i += 1 }
    out
  }

  def parent(cell: Long): Long = {
    val lvl = levelOf(cell)
    require(lvl > 0, s"level-0 cell has no parent: $cell")
    pack(lvl - 1, colDecode(cell) >> 1, rowDecode(cell) >> 1)
  }

  // ---------- Spark Column codec ----------

  def spreadCol(v: Column): Column = {
    var x = v.bitwiseAND(lit(0x0FFFFFFFL))
    x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(M0))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(M1))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(M2))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(M3))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(M4))
  }

  def packCol(level: Int, col: Column, row: Column): Column =
    lit(level.toLong << 58)
      .bitwiseOR(spreadCol(col))
      .bitwiseOR(shiftleft(spreadCol(row), 1))

  /** [[cellRange]] of four long columns, as the native [[CellRange]] expression */
  def cellRangeCol(level: Int, c0: Column, c1: Column, r0: Column, r1: Column): Column = Bridge.column(
    CellRange(Bridge.expression(c0), Bridge.expression(c1), Bridge.expression(r0), Bridge.expression(r1), level))

  // ---------- ANSI-SQL emitters (for the DuckDB oracle) ----------

  /** SQL expression spreading the low 28 bits of `v` to even positions.
    * Must stay algebraically identical to [[spread]]. */
  def spreadSql(v: String): String = {
    def step(e: String, sh: Int, m: Long) = s"((($e)|(($e)<<$sh))&$m)"
    var e = s"(($v)&${0x0FFFFFFFL})"
    e = step(e, 16, M0); e = step(e, 8, M1); e = step(e, 4, M2)
    e = step(e, 2, M3); e = step(e, 1, M4)
    e
  }

  def packSql(level: Int, col: String, row: String): String =
    s"((${level.toLong << 58})|(${spreadSql(col)})|((${spreadSql(row)})<<1))"
}
