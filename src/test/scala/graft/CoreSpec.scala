package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geom._
import graft.curve.{Hilbert, Cells}
import graft.index.PackedRTree
import graft.codec.DeltaZigZag

/** Pure-JVM goldens ported from the reference test suite (values, not code).
  * Citations into /root/reference/ per test.
  */
class CoreSpec extends AnyFunSuite {

  // geometry/mod.rs:350-355
  test("coordinate scaling truncates toward zero (golden -118.2562, 34.1060)") {
    assert(ScaledCoord.toScaled(-118.2562) == -1182562000)
    assert(ScaledCoord.toScaled(34.1060) == 341060000)
    // truncation, not rounding: 1.99999999e-7 deg -> 1 unit
    assert(ScaledCoord.toScaled(1.99999999e-7) == 1)
    assert(ScaledCoord.toScaled(-1.99999999e-7) == -1)
  }

  // bounds.rs:122-141
  test("envelope center (incl. negative) and normalization") {
    val b = Envelope.fromDegrees(0, 0, 3, 3)
    assert(b.centerLng == ScaledCoord.toScaled(1.5) && b.centerLat == ScaledCoord.toScaled(1.5))
    val n2 = Envelope.fromDegrees(2, 2, 3, 3)
    assert(n2.centerLng == ScaledCoord.toScaled(2.5))
    val neg = Envelope.fromDegrees(1, 2, -3, -6)
    assert(neg.centerLng == ScaledCoord.toScaled(-1.0) && neg.centerLat == ScaledCoord.toScaled(-2.0))
  }

  // bounds.rs:101-119 — closed interval: touching edges intersect
  test("envelope intersects is closed-interval") {
    val a = Envelope.fromDegrees(0, 0, 1, 1)
    val b = Envelope.fromDegrees(1, 1, 2, 2)
    assert(a.intersects(b) && b.intersects(a))
    val c = Envelope.fromDegrees(1.0000001, 1.0000001, 2, 2)
    assert(!a.intersects(c))
    assert(Envelope.empty.union(a) == a) // monoid identity
  }

  // writer/hilbert.rs:85-98
  test("scaled hilbert goldens 143165576 / 2720145952") {
    val n1 = Envelope.fromDegrees(0, 0, 1, 1)
    val n2 = Envelope.fromDegrees(2, 2, 3, 3)
    val extent = n1.union(n2)
    assert(Hilbert.scaled(n1.centerLng, n1.centerLat, extent) == 143165576L)
    assert(Hilbert.scaled(n2.centerLng, n2.centerLat, extent) == 2720145952L)
  }

  // reader.rs:431-457 — diagonal points sort 3,2,1,0 under DESCENDING hilbert
  test("hilbert descending order of diagonal points is 3,2,1,0") {
    val pts = (0 to 3).map(i => (ScaledCoord.toScaled(i), ScaledCoord.toScaled(i)))
    val extent = pts.foldLeft(Envelope.empty) { case (e, (x, y)) => e.extendPoint(x, y) }
    val order = pts.zipWithIndex
      .sortBy { case ((x, y), _) => -Hilbert.scaled(x, y, extent) }
      .map(_._2)
    assert(order == Seq(3, 2, 1, 0))
  }

  // packed_r_tree/mod.rs:196-292
  test("packed r-tree shape goldens") {
    assert(PackedRTree.nodesPerLevel(0) == Vector.empty)
    assert(PackedRTree.nodesPerLevel(1) == Vector(1L))
    assert(PackedRTree.nodesPerLevel(2) == Vector(1L, 2L))
    assert(PackedRTree.nodesPerLevel(16) == Vector(1L, 16L))
    assert(PackedRTree.nodesPerLevel(17) == Vector(1L, 2L, 17L))
    assert(PackedRTree.nodesPerLevel(33) == Vector(1L, 3L, 33L))
    assert(PackedRTree.nodesPerLevel(255) == Vector(1L, 16L, 255L))
    assert(PackedRTree.nodesPerLevel(257) == Vector(1L, 2L, 17L, 257L))
    assert(PackedRTree.nodeCount(257) == 277L)
    assert(PackedRTree.nodeRangesByLevel(257) == Vector((0L, 1L), (1L, 3L), (3L, 20L), (20L, 277L)))
    assert(PackedRTree.childrenRange(17, 0).contains((1L, 3L)))
    assert(PackedRTree.childrenRange(17, 1).contains((3L, 19L)))
    assert(PackedRTree.childrenRange(17, 2).contains((19L, 20L)))
    assert(PackedRTree.childrenRange(1, 0).isEmpty)
    assert(PackedRTree.childrenRange(3, 2).isEmpty)
    assert(!PackedRTree.isLeafNode(257, 0))
    assert(!PackedRTree.isLeafNode(257, 19))
    assert(PackedRTree.isLeafNode(257, 20))
    assert(PackedRTree.isLeafNode(257, 277 - 1))
    assert(PackedRTree.levelForNodeIdx(250, 17) == 0)
    assert(PackedRTree.levelForNodeIdx(250, 266) == 0)
    assert(PackedRTree.levelForNodeIdx(250, 16) == 1)
    assert(PackedRTree.levelForNodeIdx(250, 1) == 1)
    assert(PackedRTree.levelForNodeIdx(250, 0) == 2)
  }

  // packed_r_tree/writer.rs:104-131 — single-node byte golden
  test("packed r-tree single-node byte golden") {
    val bytes = PackedRTree.build(IndexedSeq((Envelope(1, 2, 3, 4), 60L, 8)))
    val expected = Array[Int](
      1, 0, 0, 0, 2, 0, 0, 0, 3, 0, 0, 0, 4, 0, 0, 0,
      60, 0, 0, 0, 0, 0, 0, 0, 8, 0, 0, 0
    ).map(_.toByte)
    assert(bytes.toSeq == expected.toSeq)
  }

  // packed_r_tree/writer.rs:134-176 — multi-layer bounds rollup
  test("packed r-tree 17-leaf rollup bounds") {
    val leaves = (0 until 17).map { i =>
      (Envelope.fromDegrees(i, i, i * 2.0, i * 2.0), (i / 10).toLong, i % 10)
    }
    val bytes = PackedRTree.build(leaves)
    val tree = new PackedRTree(17, bytes)
    assert(tree.nodeEnvelope(0) == Envelope.fromDegrees(0, 0, 32, 32))
    assert(tree.nodeEnvelope(1) == Envelope.fromDegrees(0, 0, 30, 30))
    assert(tree.nodeEnvelope(2) == Envelope.fromDegrees(16, 16, 32, 32))
    assert(tree.nodeEnvelope(3) == Envelope.fromDegrees(0, 0, 0, 0))
    assert(tree.nodeEnvelope(19) == Envelope.fromDegrees(16, 16, 32, 32))
  }

  // packed_r_tree/reader.rs:285-352 — 4-leaf search incl. tree-order output
  test("packed r-tree bbox search goldens") {
    val leaves = IndexedSeq(
      (Envelope.fromDegrees(0, 0, 1, 1), 0L, 0),
      (Envelope.fromDegrees(1, 1, 2, 2), 0L, 1),
      (Envelope.fromDegrees(2, 2, 3, 3), 10L, 0),
      (Envelope.fromDegrees(3, 3, 4, 4), 10L, 1)
    )
    val tree = new PackedRTree(4, PackedRTree.build(leaves))
    val hit1 = tree.queryBbox(Envelope.fromDegrees(0.5, 0.5, 0.75, 0.75))
    assert(hit1.toSeq == Seq(0L))
    // (1.5,1.5)-(2,2) hits leaves 1 and 2 in tree order: (page 0, feat 1), (page 10, feat 0)
    val q = Envelope.fromDegrees(1.5, 1.5, 2.0, 2.0)
    val hits = (0L until PackedRTree.nodeCount(4)).filter(i =>
      PackedRTree.isLeafNode(4, i) && tree.nodeEnvelope(i).intersects(q))
      .map(i => (tree.payloadHi(i), tree.payloadLo(i)))
    assert(hits == Seq((0L, 1), (10L, 0)))
    assert(tree.queryBbox(q).toSeq == Seq(0L, 10L))
    // empty tree
    assert(new PackedRTree(0, Array.empty).queryBbox(q).isEmpty)
  }

  // geometry/mod.rs:357-371 — recursive bounds of a mixed collection
  test("geometry collection envelope golden RECT(-20 -30, 10 20)") {
    val pt = Wkb.Pt(ScaledCoord.toScaled(1.0), ScaledCoord.toScaled(2.0))
    val line = Wkb.Line(Array(
      Wkb.pack(ScaledCoord.toScaled(10.0), ScaledCoord.toScaled(20.0)),
      Wkb.pack(ScaledCoord.toScaled(-20.0), ScaledCoord.toScaled(-30.0))))
    val coll = Wkb.Collection(Vector(pt, line))
    assert(coll.envelope == Envelope.fromDegrees(-20, -30, 10, 20))
  }

  test("wkb roundtrip for all 7 geometry types") {
    def rt(g: Wkb.Geom): Unit = {
      val decoded = Wkb.read(Wkb.write(g))
      assert(Wkb.asText(decoded) == Wkb.asText(g))
      assert(decoded.envelope == g.envelope)
    }
    val c = (d: Double, e: Double) => Wkb.pack(ScaledCoord.toScaled(d), ScaledCoord.toScaled(e))
    val ring = Array(c(0, 0), c(4, 0), c(4, 4), c(0, 4), c(0, 0))
    val hole = Array(c(1, 1), c(2, 1), c(2, 2), c(1, 2), c(1, 1))
    rt(Wkb.Pt(ScaledCoord.toScaled(-118.2562), ScaledCoord.toScaled(34.106)))
    rt(Wkb.Line(Array(c(0, 0), c(1, 1), c(2, 0))))
    rt(Wkb.Poly(Vector(ring, hole)))
    rt(Wkb.MultiPt(Array(c(0, 0), c(5, 5))))
    rt(Wkb.MultiLine(Vector(Array(c(0, 0), c(1, 1)), Array(c(2, 2), c(3, 3)))))
    rt(Wkb.MultiPoly(Vector(Vector(ring), Vector(hole))))
    rt(Wkb.Collection(Vector(Wkb.Pt(1, 2), Wkb.Line(Array(c(10, 20), c(-20, -30))))))
  }

  test("point-in-polygon: interior, exterior, hole, boundary (closed)") {
    val c = (d: Double, e: Double) => Wkb.pack(ScaledCoord.toScaled(d), ScaledCoord.toScaled(e))
    val ring = Array(c(0, 0), c(4, 0), c(4, 4), c(0, 4), c(0, 0))
    val hole = Array(c(1, 1), c(2, 1), c(2, 2), c(1, 2), c(1, 1))
    val poly = Wkb.Poly(Vector(ring, hole))
    def pip(lng: Double, lat: Double) =
      PointInPolygon.containsGeom(poly, ScaledCoord.toScaled(lng), ScaledCoord.toScaled(lat))
    assert(pip(3, 3))        // interior
    assert(!pip(5, 3))       // exterior
    assert(!pip(1.5, 1.5))   // inside the hole
    assert(pip(0, 0))        // vertex -> closed
    assert(pip(2, 0))        // edge -> closed
    assert(pip(1, 1.5))      // hole boundary -> closed (on segment)
    assert(pip(4, 4))        // far corner
    val multi = Wkb.MultiPoly(Vector(Vector(ring), Vector(Array(c(10, 10), c(12, 10), c(12, 12), c(10, 12), c(10, 10)))))
    assert(PointInPolygon.containsGeom(multi, ScaledCoord.toScaled(11), ScaledCoord.toScaled(11)))
    assert(!PointInPolygon.containsGeom(multi, ScaledCoord.toScaled(7), ScaledCoord.toScaled(7)))
  }

  test("point-in-polygon: UNCLOSED rings classify like their closed twins") {
    val c = (d: Double, e: Double) => Wkb.pack(ScaledCoord.toScaled(d), ScaledCoord.toScaled(e))
    // same square/hole as the closed test, WITHOUT the repeated last
    // point — external emitters produce these and neither parser
    // validates closure; the implicit closing edge must be cast against
    val ring = Array(c(0, 0), c(4, 0), c(4, 4), c(0, 4))
    val hole = Array(c(1, 1), c(2, 1), c(2, 2), c(1, 2))
    val poly = Wkb.Poly(Vector(ring, hole))
    def pip(lng: Double, lat: Double) =
      PointInPolygon.containsGeom(poly, ScaledCoord.toScaled(lng), ScaledCoord.toScaled(lat))
    assert(pip(3, 3))        // interior
    assert(!pip(5, 3))       // exterior
    assert(!pip(-5, 2))      // exterior LEFT of the implicit closing edge
    assert(!pip(1.5, 1.5))   // inside the hole
    assert(pip(0, 2))        // ON the implicit closing edge -> closed
    assert(pip(0, 0))        // vertex -> closed
  }

  test("cells: empty/inverted envelopes cover nothing; res out of range is rejected") {
    // an EMPTY geometry's envelope is inverted (min > max): the clamp
    // would turn it into a huge array of bogus cell-0 entries joining
    // everything at the world corner
    assert(Cells.cover(Envelope.empty, 4).isEmpty)
    assert(Cells.cover(Envelope(10, 10, -10, 10), 9).isEmpty) // one axis inverted
    intercept[IllegalArgumentException](Cells.cellId(0, 0, Cells.MaxRes + 1))
    intercept[IllegalArgumentException](Cells.cover(Envelope(0, 0, 1, 1), -1))
    intercept[IllegalArgumentException](Cells.kRing(0L, 4, -1))
  }

  test("cells: cellId/cover/kRing/tile arithmetic") {
    val res = 4 // 16x16 grid, cell = 22.5 x 11.25 degrees
    // world corners
    assert(Cells.cellId(ScaledCoord.toScaled(-180), ScaledCoord.toScaled(-90), res) == 0L)
    assert(Cells.cellId(ScaledCoord.toScaled(179.9999), ScaledCoord.toScaled(89.9999), res) == 255L)
    // max edge is clamped into the last cell
    assert(Cells.cellId(1800000000.toInt, 900000000.toInt, res) == 255L)
    // cover of a rect spanning 2x2 cells
    val env = Envelope.fromDegrees(-10, -10, 10, 10)
    val cov = Cells.cover(env, res)
    assert(cov.length == 4 && cov.distinct.length == 4)
    assert(cov.forall { id =>
      val x = id / 16; val y = id % 16
      x >= 7 && x <= 8 && y >= 7 && y <= 8
    })
    // kRing clipping at world edge
    assert(Cells.kRing(0L, res, 1).toSet == Set(0L, 1L, 16L, 17L))
    assert(Cells.kRing(Cells.cellId(0, 0, res), res, 1).length == 9)
    // tile == cell arithmetic
    assert(Cells.cellId(ScaledCoord.toScaled(10), ScaledCoord.toScaled(10), 3) == 4L * 8 + 4)
  }

  test("cells: level-tagged keys — every point in an envelope matches exactly one cover key") {
    import Cells._
    def base(r: Int): Long = ((1L << (2 * r)) - 1) / 3
    def levelOf(key: Long): Int = (0 to MaxRes).filter(r => base(r) <= key).max
    val rnd = new scala.util.Random(20261017L)
    def within(lo: Long, hi: Long): Int = (lo + (rnd.nextDouble() * (hi - lo)).toLong).toInt
    val (wx0, wy0) = (WorldMinLng.toInt, WorldMinLat.toInt)
    val (wx1, wy1) = ((WorldMinLng + WorldLngSpan).toInt, (WorldMinLat + WorldLatSpan).toInt)
    def randomEnv(): Envelope = {
      // log-uniform sides from one scaled unit to the world span
      val w = math.exp(rnd.nextDouble() * math.log(WorldLngSpan.toDouble)).toLong
      val h = math.exp(rnd.nextDouble() * math.log(WorldLatSpan.toDouble)).toLong
      val x = within(WorldMinLng, WorldMinLng + WorldLngSpan - w)
      val y = within(WorldMinLat, WorldMinLat + WorldLatSpan - h)
      Envelope(x, y, (x + w).toInt, (y + h).toInt)
    }
    def onGrid(r: Int): Envelope = {
      // edges exactly on level-r cell boundaries, 1..3 cells per side
      val n = cellsPerAxis(r)
      val cx = rnd.nextInt(n.toInt - 3).toLong; val cy = rnd.nextInt(n.toInt - 3).toLong
      val (nx, ny) = (1 + rnd.nextInt(3), 1 + rnd.nextInt(3))
      Envelope((WorldMinLng + cx * cellWidth(r)).toInt, (WorldMinLat + cy * cellHeight(r)).toInt,
        (WorldMinLng + (cx + nx) * cellWidth(r)).toInt, (WorldMinLat + (cy + ny) * cellHeight(r)).toInt)
    }
    val envs = Seq(
      Envelope(wx0, wy0, wx1, wy1),                          // the world
      Envelope(Int.MinValue, Int.MinValue, Int.MaxValue, Int.MaxValue), // beyond it
      Envelope(wx0, wy0, wx0, wy0), Envelope(wx1, wy1, wx1, wy1), Envelope(0, 0, 0, 0)) ++
      Seq.fill(40) { val p = randomEnv(); Envelope(p.minLng, p.minLat, p.minLng, p.minLat) } ++
      Seq.fill(40) { val e = randomEnv(); Envelope(wx0 - 5, e.minLat, e.maxLng, wy1 + 5) } ++ // clamped
      Seq.fill(40) { val e = randomEnv(); Envelope(e.minLng, wy0, wx1, e.maxLat) } ++
      Seq.fill(40)(onGrid(8)) ++ Seq.fill(40)(onGrid(9)) ++ Seq.fill(400)(randomEnv())
    for (e <- envs; maxRes <- 0 to MaxRes) {
      val keys = coverKeys(e, maxRes)
      assert(keys.nonEmpty && keys.length <= 4 && keys.distinct.length == keys.length, e)
      // one level, and the finest within maxRes whose cover spans <= 2x2
      val lvl = levelOf(keys.head)
      assert(lvl <= maxRes && keys.forall(levelOf(_) == lvl), e)
      assert(keys.map(_ - base(lvl)).sorted.toSeq == cover(e, lvl).sorted.toSeq, e)
      if (lvl < maxRes) assert(cellX(e.maxLng, lvl + 1) - cellX(e.minLng, lvl + 1) > 1 ||
        cellY(e.maxLat, lvl + 1) - cellY(e.minLat, lvl + 1) > 1, e)
      val keySet = keys.toSet
      val xs = Seq(e.minLng, e.maxLng, ((e.minLng.toLong + e.maxLng) / 2).toInt, within(e.minLng, e.maxLng))
      val ys = Seq(e.minLat, e.maxLat, ((e.minLat.toLong + e.maxLat) / 2).toInt, within(e.minLat, e.maxLat))
      for (x <- xs; y <- ys) { // corners, edges and interior points
        val pk = pointKeys(x, y, levelMask(0 to maxRes))
        assert(pk.length == maxRes + 1)
        assert(pk.count(keySet) == 1, s"$e maxRes $maxRes point ($x, $y)")
        // key r is level r's cell: levels never collide
        for (r <- 0 to maxRes) {
          assert(levelOf(pk(r)) == r && pk(r) - base(r) == cellId(x, y, r))
          assert(pk(r) < base(r + 1))
        }
      }
    }
    assert(coverKeys(Envelope(wx0, wy0, wx1, wy1), MaxRes).length == 4) // level 1: 2x2
    assert(coverKeys(Envelope.empty, 4).isEmpty)
    assert(coverKeys(Envelope(10, 10, -10, 10), MaxRes).isEmpty) // one axis inverted
    assert(coverKeys(Envelope(10, 10, 10, -10), 0).isEmpty)
    for (bad <- Seq(-1, MaxRes + 1)) {
      intercept[IllegalArgumentException](levelMask(Seq(bad)))
      intercept[IllegalArgumentException](coverKeys(Envelope(0, 0, 1, 1), bad))
    }
  }

  test("cells: pointKeys at a level mask are the full keys at those levels, coarsest first") {
    import Cells._
    val rnd = new scala.util.Random(20261020L)
    val (wx0, wy0) = (WorldMinLng.toInt, WorldMinLat.toInt)
    val (wx1, wy1) = ((WorldMinLng + WorldLngSpan).toInt, (WorldMinLat + WorldLatSpan).toInt)
    val (lo, hi) = (Int.MinValue, Int.MaxValue)
    val points = Seq((wx0, wy0), (wx0, wy1), (wx1, wy0), (wx1, wy1), (0, 0),
      (lo, lo), (lo, hi), (hi, lo), (hi, hi)) ++ Seq.fill(100)((rnd.nextInt(), rnd.nextInt()))
    val gapped = levelMask(Seq(0, 8, 9))
    assert(gapped == 0x301 && levelMask(0 to MaxRes) == AllLevels && levelMask(Nil) == 0)
    val masks = Seq(0, gapped, AllLevels) ++ (0 to MaxRes).map(r => 1 << r) ++
      Seq.fill(40)(rnd.nextInt(AllLevels + 1))
    for ((x, y) <- points) {
      val full = pointKeys(x, y, AllLevels)
      assert(full.length == MaxRes + 1 && full.indices.forall(r => keyLevel(full(r)) == r))
      for (m <- masks) {
        val want = full.filter(key => ((m >>> keyLevel(key)) & 1) == 1)
        assert(pointKeys(x, y, m).toSeq == want.toSeq, s"mask $m point ($x, $y)")
      }
      assert(pointKeys(x, y, 0).isEmpty)
      assert(pointKeys(x, y, gapped).map(keyLevel).toSeq == Seq(0, 8, 9))
    }
    // a bit above MaxRes, alone or beside valid levels, throws
    for (bad <- Seq(1 << (MaxRes + 1), AllLevels | (1 << 12), -1, Int.MinValue))
      intercept[IllegalArgumentException](pointKeys(0, 0, bad))
  }

  test("delta-zigzag codec roundtrip + compactness") {
    assert(DeltaZigZag.zigzag(0L) == 0L && DeltaZigZag.zigzag(-1L) == 1L && DeltaZigZag.zigzag(1L) == 2L)
    assert(DeltaZigZag.unzigzag(DeltaZigZag.zigzag(-123456789L)) == -123456789L)
    val vals = Array(-1182562000, -1182561990, -1182561980, 341060000, 341060010)
    assert(DeltaZigZag.decode(DeltaZigZag.encode(vals)).toSeq == vals.toSeq)
    // hilbert-adjacent values compress far below 4 bytes/value
    val near = Array.tabulate(1000)(i => 500000000 + i * 3)
    assert(DeltaZigZag.encode(near).length < 1200)
    assert(DeltaZigZag.decode(DeltaZigZag.encode(near)).toSeq == near.toSeq)
    assert(DeltaZigZag.decode(DeltaZigZag.encode(Array.empty[Int])).isEmpty)
  }

  test("wkb and delta-zigzag reject counts larger than the bytes left") {
    def blob(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    // count 2^31-1, 2^28 and 2^32-1 (-1 as an Int) in a 5-byte blob
    Seq(blob(0xFF, 0xFF, 0xFF, 0xFF, 0x07), blob(0x80, 0x80, 0x80, 0x80, 0x01),
        blob(0xFF, 0xFF, 0xFF, 0xFF, 0x0F)).foreach { b =>
      intercept[IllegalArgumentException](DeltaZigZag.decode(b))
    }
    // an 11-byte varint
    intercept[IllegalArgumentException](DeltaZigZag.decode(Array.fill[Byte](11)(0x80.toByte)))
    // LineString with 2^28 coordinates, MultiPoint with 2^31-1 points,
    // LineString with a negative count: no bytes follow any of them
    Seq(blob(1, 2, 0, 0, 0, 0, 0, 0, 0x10), blob(1, 4, 0, 0, 0, 0xFF, 0xFF, 0xFF, 0x7F),
        blob(1, 2, 0, 0, 0, 0xFF, 0xFF, 0xFF, 0xFF)).foreach { b =>
      intercept[IllegalArgumentException](Wkb.read(b))
    }
  }

  test("wkb envelope scan rejects counts larger than the bytes left, as read does") {
    def le(n: Int) = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(n).array()
    def deg(d: Double) = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putDouble(d).array()
    // 37-byte Polygon: three rings, the exterior one coordinate, then a
    // hole claiming 2^28 coordinates (16 * 2^28 wraps to 0 in Int) and an
    // empty hole
    val poly = Array[Byte](1) ++ le(3) ++ le(3) ++ le(1) ++ deg(1.0) ++ deg(2.0) ++
      le(1 << 28) ++ le(0)
    assert(poly.length == 37)
    // LineString claiming 2^28 coordinates and MultiPolygon claiming 1000
    // polygons with no bytes after the count; MultiPoint claiming 2
    // points with one after it
    val line = Array[Byte](1) ++ le(2) ++ le(1 << 28)
    val multiPoly = Array[Byte](1) ++ le(6) ++ le(1000)
    val multiPt = Array[Byte](1) ++ le(4) ++ le(2) ++ Array[Byte](1) ++ le(1) ++ deg(0) ++ deg(0)
    Seq(poly, line, multiPoly, multiPt).foreach { b =>
      intercept[IllegalArgumentException](Wkb.envelopeOf(b))
      intercept[IllegalArgumentException](Wkb.read(b))
    }
  }

  test("WKT parser goldens (wkt.rs:150-300)") {
    import graft.geom.Wkt
    def deg(d: Double) = ScaledCoord.toScaled(d)
    def pt(x: Double, y: Double) = Wkb.pack(deg(x), deg(y))

    // optional decimal + point (wkt.rs:151-161)
    assert(Wkt.parse("POINT(1 2.0)") == Wkb.Pt(deg(1), deg(2)))
    assert(Wkt.parse("POINT(1 2)") == Wkb.Pt(deg(1), deg(2)))
    // line_string (wkt.rs:163-170)
    assert(Wkt.parse("LINESTRING(1 2,3 4)").asInstanceOf[Wkb.Line].coords.toSeq ==
      Seq(pt(1, 2), pt(3, 4)))
    assert(Wkt.parse("LINESTRING EMPTY").asInstanceOf[Wkb.Line].coords.isEmpty)
    // polygon (wkt.rs:172-182)
    val poly = Wkt.parse("POLYGON((1 2,3 4))").asInstanceOf[Wkb.Poly]
    assert(poly.rings.map(_.toSeq) == Vector(Seq(pt(1, 2), pt(3, 4))))
    // multi_point (wkt.rs:184-191)
    assert(Wkt.parse("MULTIPOINT(1 2,3 4)").asInstanceOf[Wkb.MultiPt].coords.toSeq ==
      Seq(pt(1, 2), pt(3, 4)))
    // multi_line_string with nested EMPTY (wkt.rs:193-204)
    val mls = Wkt.parse("MULTILINESTRING((1 2,3 4),EMPTY,(5 6,7 8))").asInstanceOf[Wkb.MultiLine]
    assert(mls.lines.map(_.toSeq) ==
      Vector(Seq(pt(1, 2), pt(3, 4)), Seq.empty, Seq(pt(5, 6), pt(7, 8))))
    // multi_polygon with nested EMPTY (wkt.rs:206-235)
    val mp = Wkt.parse(
      "MULTIPOLYGON(((0 1,1 1,1 0,0 1)),EMPTY,((5 5,7 8,5 6,5 5),(9 10, 11 12,12 12,9 10)))")
      .asInstanceOf[Wkb.MultiPoly]
    assert(mp.polys.map(_.map(_.toSeq)) == Vector(
      Vector(Seq(pt(0, 1), pt(1, 1), pt(1, 0), pt(0, 1))),
      Vector.empty,
      Vector(Seq(pt(5, 5), pt(7, 8), pt(5, 6), pt(5, 5)),
        Seq(pt(9, 10), pt(11, 12), pt(12, 12), pt(9, 10)))))
    // geometry_collection of all six (wkt.rs:237-287)
    val gc = Wkt.parse(
      """GEOMETRYCOLLECTION(
        |  POINT(1 2),
        |  LINESTRING(1 2,3 4),
        |  POLYGON((1 2,3 4,5 6,1 2)),
        |  MULTIPOINT(1 2,3 4),
        |  MULTILINESTRING((1 2,3 4),EMPTY,(5 6,7 8)),
        |  MULTIPOLYGON(((0 1,1 1,1 0,0 1)),EMPTY,((5 5,7 8,5 6,5 5),(9 10, 11 12,12 12,9 10))))""".stripMargin)
      .asInstanceOf[Wkb.Collection]
    assert(gc.geoms.length == 6)
    assert(gc.geoms.head == Wkb.Pt(deg(1), deg(2)))
    assert(Wkb.asText(gc.geoms(2)) == "POLYGON((1.0 2.0,3.0 4.0,5.0 6.0,1.0 2.0))")
    // bounds (wkt.rs:289-297)
    assert(Wkt.parseRect("RECT(1 2,3 4)") ==
      Envelope.fromCorners(deg(1), deg(2), deg(3), deg(4)))
    // EMPTY collections + rejections (wkt.rs:37-39, 57-59)
    assert(Wkt.parse("GEOMETRYCOLLECTION EMPTY").asInstanceOf[Wkb.Collection].geoms.isEmpty)
    assert(Wkt.parse("MULTIPOLYGON EMPTY").asInstanceOf[Wkb.MultiPoly].polys.isEmpty)
    intercept[IllegalArgumentException](Wkt.parse("POINT EMPTY"))
    intercept[IllegalArgumentException](Wkt.parse("LINESTRING()"))
    intercept[IllegalArgumentException](Wkt.parse("TRIANGLE(0 0,1 1,2 0)"))
    // WKT out -> WKT in is a fixpoint through the engine formatter
    val round = Wkt.parse(Wkb.asText(mp))
    assert(Wkb.asText(round) == Wkb.asText(mp))
  }
}
