package graft.curve

import graft.geom.Envelope

/** Hierarchical grid-cell scheme over the scaled-int world, the engine's
  * H3/S2 analog (built from first principles — coursier is offline, so no
  * external geo index deps; see SURVEY.md §2.11).
  *
  * At resolution r (0..9) the world rectangle
  * lng ∈ [-1.8e9, 1.8e9], lat ∈ [-0.9e9, 0.9e9] (scaled ints) is divided
  * into 2^r x 2^r cells. Both 3600000000 and 1800000000 are divisible by
  * 2^9, so cell widths are exact integers up to r = 9 — this keeps the
  * cell function expressible in plain integer SQL, which is what lets the
  * DuckDB oracle replay the same cell assignment independently.
  *
  * cellId = cx * 2^r + cy  (cx, cy ∈ [0, 2^r)).
  *
  * Level-tagged keys number the cells of every level 0..MaxRes in one
  * space: key(r, c) = (4^r − 1)/3 + c for the level-r cell id c. Level r's
  * block starts right after the 1 + 4 + … + 4^(r−1) keys of the coarser
  * levels, so keys of different levels never collide, and every key is
  * below (4^(MaxRes+1) − 1)/3. A point has one key per level
  * ([[pointKeys]]); an envelope is keyed at the one level its size picks
  * ([[coverKeys]]), so a point/envelope key match means "same cell at the
  * envelope's level" — the multi-level analog of an S2/H3 region coverer.
  *
  * Separately, [[Hilbert]] supplies the space-filling-curve key used for
  * range partitioning / clustering; cells are the equi-join key.
  */
object Cells {
  final val WorldMinLng = -1800000000L
  final val WorldMinLat = -900000000L
  final val WorldLngSpan = 3600000000L
  final val WorldLatSpan = 1800000000L
  final val MaxRes = 9

  /** Every public entry point validates: above MaxRes the cell widths
    * stop being exact integers (breaking the DuckDB-oracle replay
    * property this scheme exists for), and a negative res wraps the
    * shift into garbage ids. Hilbert.chunk enforces its own range the
    * same way.
    */
  @inline private def checkRes(res: Int): Unit =
    require(res >= 0 && res <= MaxRes, s"cell res must be in [0, $MaxRes]; got $res")

  @inline def cellsPerAxis(res: Int): Long = 1L << res
  @inline def cellWidth(res: Int): Long = WorldLngSpan / cellsPerAxis(res)
  @inline def cellHeight(res: Int): Long = WorldLatSpan / cellsPerAxis(res)

  @inline private def clamp(v: Long, max: Long): Long =
    if (v < 0) 0L else if (v > max) max else v

  def cellX(lng: Int, res: Int): Long =
    clamp((lng.toLong - WorldMinLng) / cellWidth(res), cellsPerAxis(res) - 1)

  def cellY(lat: Int, res: Int): Long =
    clamp((lat.toLong - WorldMinLat) / cellHeight(res), cellsPerAxis(res) - 1)

  /** Cell id of a point at resolution res. */
  def cellId(lng: Int, lat: Int, res: Int): Long = {
    checkRes(res)
    cellX(lng, res) * cellsPerAxis(res) + cellY(lat, res)
  }

  /** All cells intersecting an envelope (the polygon cover set); empty
    * for an empty/inverted envelope — the clamp would otherwise turn an
    * EMPTY geometry's inverted envelope into x0 > x1 whose product of
    * negative spans goes positive, i.e. a large array of bogus cell-0
    * entries joining everything at the world corner.
    */
  def cover(env: Envelope, res: Int): Array[Long] = {
    checkRes(res)
    if (env.isEmpty) return Array.empty
    val x0 = cellX(env.minLng, res); val x1 = cellX(env.maxLng, res)
    val y0 = cellY(env.minLat, res); val y1 = cellY(env.maxLat, res)
    if (x1 < x0 || y1 < y0) return Array.empty
    val n = ((x1 - x0 + 1) * (y1 - y0 + 1)).toInt
    val out = new Array[Long](n)
    var i = 0
    var x = x0
    while (x <= x1) {
      var y = y0
      while (y <= y1) { out(i) = x * cellsPerAxis(res) + y; i += 1; y += 1 }
      x += 1
    }
    out
  }

  @inline private def levelBase(res: Int): Long = ((1L << (2 * res)) - 1) / 3

  /** The level mask of every level 0..MaxRes (bit r set for level r). */
  final val AllLevels = (1 << (MaxRes + 1)) - 1

  /** The level mask of `levels`: bit r set for each level r in it. */
  def levelMask(levels: Iterable[Int]): Int =
    levels.foldLeft(0) { (mask, r) => checkRes(r); mask | (1 << r) }

  /** Level-tagged keys of a point's cells at the levels set in `mask`
    * (bit r for level r, see [[levelMask]]), coarsest first: exactly one
    * key per set level; none for mask 0.
    */
  def pointKeys(lng: Int, lat: Int, mask: Int): Array[Long] = {
    require((mask & ~AllLevels) == 0, f"level mask must hold levels 0..$MaxRes only; got 0x$mask%x")
    val out = new Array[Long](Integer.bitCount(mask))
    var m = mask
    var i = 0
    while (m != 0) {
      val r = Integer.numberOfTrailingZeros(m)
      out(i) = levelBase(r) + cellX(lng, r) * cellsPerAxis(r) + cellY(lat, r)
      i += 1
      m &= m - 1
    }
    out
  }

  /** The level a level-tagged key belongs to. */
  def keyLevel(key: Long): Int = {
    var r = 0
    while (r < MaxRes && levelBase(r + 1) <= key) r += 1
    r
  }

  /** Level-tagged keys of an envelope's cover at the finest level
    * r <= maxRes where the cover spans at most 2 cells on each axis: at
    * most 4 keys whatever the envelope's size (level 0 is one cell). Cell
    * edges nest, so a coarser level never spans more cells and the scan
    * down from maxRes stops at the first fit. A point inside the closed
    * envelope lies in one of these cells, and its [[pointKeys]] hold
    * exactly one key of that level, so each envelope hit matches exactly
    * once. Empty for an empty/inverted envelope, like [[cover]].
    */
  def coverKeys(env: Envelope, maxRes: Int): Array[Long] = {
    checkRes(maxRes)
    var r = maxRes
    while (r > 0 && (cellX(env.maxLng, r) - cellX(env.minLng, r) > 1 ||
        cellY(env.maxLat, r) - cellY(env.minLat, r) > 1)) r -= 1
    val base = levelBase(r)
    cover(env, r).map(_ + base)
  }

  /** Cover of a WKB geometry's envelope (StaticInvoke-friendly). */
  def coverWkb(wkb: Array[Byte], res: Int): Array[Long] =
    cover(graft.geom.Wkb.read(wkb).envelope, res)

  /** Ring of cells at Chebyshev distance <= k around a cell (clipped at the
    * world edge) — the kNN expansion primitive (SURVEY.md §2.11 "KRing").
    */
  def kRing(cell: Long, res: Int, k: Int): Array[Long] = {
    checkRes(res)
    require(k >= 0, s"kRing radius must be >= 0; got $k")
    val per = cellsPerAxis(res)
    val cx = cell / per
    val cy = cell % per
    val x0 = math.max(0L, cx - k); val x1 = math.min(per - 1, cx + k)
    val y0 = math.max(0L, cy - k); val y1 = math.min(per - 1, cy + k)
    val out = new Array[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var i = 0
    var x = x0
    while (x <= x1) {
      var y = y0
      while (y <= y1) { out(i) = x * per + y; i += 1; y += 1 }
      x += 1
    }
    out
  }
}
