package graft.sources

import graft.codec.FeatureCodec._
import graft.curve.Hilbert
import graft.geom.{Envelope, ScaledCoord, Wkb}
import graft.index.PackedRTree

import java.nio.charset.StandardCharsets.UTF_8

/** FlatGeobuf (FGB) container codec — the "any geozero format" the
  * reference's bridge replays into and the format its README benchmarks
  * head-to-head (`/root/reference/README.md` "Benefits": 13 MB FGB vs
  * 5.1 MB geomedea over UScounties; "Motivation": 9.3 GB FGB vs 2.5 GB
  * geomedea over OpenAddresses). Implemented from the PUBLIC spec
  * (flatgeobuf.org, github.com/flatgeobuf/flatgeobuf, spec v3) with a
  * hand-rolled minimal FlatBuffers layer — no flatbuffers jar exists in
  * this sandbox, and the wire format (vtables, back-to-front builds,
  * size-prefixed roots) is small enough to implement directly.
  *
  * File layout (spec):
  *   magic `fgb\x03fgb\x00` (8B)
  *   ++ size-prefixed FlatBuffers `Header` (u32 LE length + table)
  *   ++ optional packed Hilbert R-tree (40-byte nodes: 4 x f64 bounds +
  *      u64 offset; leaves carry FEATURE BYTE OFFSETS within the
  *      features section, internal nodes the index of their first child;
  *      node_size branching, root-first level order)
  *   ++ features, each a size-prefixed FlatBuffers `Feature`.
  *
  * Coordinates are f64 degrees in the file (the interop convention, like
  * our GeoJSON bridge) and scaled ints in the engine; `Geometry.ends`
  * values count coordinate PAIRS (the JS reference impl shifts them left
  * by one to index the flat xy array). Features are laid out in
  * ASCENDING Hilbert order of their bbox centers over the dataset extent
  * — FGB's convention, opposite of geomedea's descending
  * (`writer/mod.rs:77-82`).
  *
  * Scope honestly stated: round-trips every geometry type and the scalar
  * property variants this engine carries; Vec/Map properties serialize
  * as Json-typed payloads and read back as TYPED one-level Vec/Map with
  * geozero's canonical scalar mapping (narrow int/float widths widen —
  * FGB columns have no element types); deeper nesting stays JSON text.
  * Validated by roundtrip + a spec-derived
  * byte-level golden (a minimal file assembled BY HAND in the test,
  * vtables and all, that the reader must parse) — no FGB library exists
  * offline to cross-check beyond that.
  */
object FlatGeobuf {

  val Magic: Array[Byte] =
    Array(0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x00).map(_.toByte)

  val NodeBytes = 40
  val DefaultNodeSize = 16

  // GeometryType enum (spec)
  private val GPoint = 1; private val GLine = 2; private val GPoly = 3
  private val GMultiPoint = 4; private val GMultiLine = 5; private val GMultiPoly = 6
  private val GCollection = 7

  // ColumnType enum (spec)
  private val CByte = 0; private val CUByte = 1; private val CBool = 2
  private val CShort = 3; private val CUShort = 4; private val CInt = 5
  private val CUInt = 6; private val CLong = 7; private val CULong = 8
  private val CFloat = 9; private val CDouble = 10; private val CString = 11
  private val CJson = 12; private val CDateTime = 13; private val CBinary = 14

  // ---------------------------------------------------------------------------
  // Minimal FlatBuffers builder: back-to-front writes, end-relative
  // alignment (total size padded at finish so absolute positions align),
  // vtable per table (no dedup — costs a few bytes, never correctness).
  // ---------------------------------------------------------------------------
  private[sources] final class FbBuilder {
    private var buf = new Array[Byte](1024)
    private var used = 0
    private var maxAlign = 4
    private var tableMark = -1
    private var slots: Array[Int] = _

    def offset: Int = used

    private def ensure(n: Int): Unit = if (used + n > buf.length) {
      var cap = buf.length * 2
      while (cap < used + n) cap *= 2
      val nb = new Array[Byte](cap)
      System.arraycopy(buf, buf.length - used, nb, cap - used, used)
      buf = nb
    }
    private def pad(n: Int): Unit = {
      ensure(n)
      var i = buf.length - used - n
      val e = buf.length - used
      while (i < e) { buf(i) = 0; i += 1 }
      used += n
    }
    /** Pad so that after `extra` more bytes the position is `align`ed. */
    def prep(align: Int, extra: Int): Unit = {
      if (align > maxAlign) maxAlign = align
      pad((~(used + extra) + 1) & (align - 1))
    }
    def putByte(v: Byte): Unit = { ensure(1); buf(buf.length - used - 1) = v; used += 1 }
    def putBytes(b: Array[Byte]): Unit = {
      ensure(b.length)
      System.arraycopy(b, 0, buf, buf.length - used - b.length, b.length)
      used += b.length
    }
    def putShort(v: Int): Unit = {
      ensure(2); val p = buf.length - used - 2
      buf(p) = v.toByte; buf(p + 1) = (v >> 8).toByte; used += 2
    }
    def putInt(v: Int): Unit = {
      ensure(4); val p = buf.length - used - 4
      buf(p) = v.toByte; buf(p + 1) = (v >> 8).toByte
      buf(p + 2) = (v >> 16).toByte; buf(p + 3) = (v >> 24).toByte
      used += 4
    }
    def putLong(v: Long): Unit = { putInt((v >>> 32).toInt); putInt(v.toInt) } // back-to-front: high half first => low half at lower address
    def putDouble(v: Double): Unit = putLong(java.lang.Double.doubleToLongBits(v))
    def putUOffset(targetEndOff: Int): Unit = { prep(4, 0); putInt(used + 4 - targetEndOff) }

    def createString(s: String): Int = {
      val b = s.getBytes(UTF_8)
      prep(4, b.length + 1) // length prefix lands 4-aligned
      putByte(0) // NUL terminator (spec)
      putBytes(b)
      putInt(b.length)
      used
    }
    def createByteVector(b: Array[Byte]): Int = {
      prep(4, b.length)
      putBytes(b)
      putInt(b.length)
      used
    }
    def createDoubleVector(xs: Array[Double]): Int = {
      prep(4, 8 * xs.length)
      prep(8, 8 * xs.length)
      var i = xs.length - 1
      while (i >= 0) { putDouble(xs(i)); i -= 1 }
      putInt(xs.length)
      used
    }
    def createUIntVector(xs: Array[Int]): Int = {
      prep(4, 4 * xs.length)
      var i = xs.length - 1
      while (i >= 0) { putInt(xs(i)); i -= 1 }
      putInt(xs.length)
      used
    }
    def createOffsetVector(targets: Seq[Int]): Int = {
      prep(4, 4 * targets.length + 4)
      targets.reverseIterator.foreach(putUOffset)
      putInt(targets.length)
      used
    }

    def startTable(numFields: Int): Unit = {
      require(tableMark < 0, "nested startTable")
      tableMark = used
      slots = new Array[Int](numFields)
    }
    def slotByte(id: Int, v: Byte): Unit = { putByte(v); slots(id) = used }
    def slotShort(id: Int, v: Int): Unit = { prep(2, 0); putShort(v); slots(id) = used }
    def slotLong(id: Int, v: Long): Unit = { prep(8, 0); putLong(v); slots(id) = used }
    def slotRef(id: Int, targetEndOff: Int): Unit = { putUOffset(targetEndOff); slots(id) = used }
    def endTable(): Int = {
      require(tableMark >= 0, "endTable without startTable")
      prep(4, 0)
      putInt(0) // soffset placeholder
      val tablePos = used
      val tableLen = tablePos - tableMark
      var lastUsed = slots.length
      while (lastUsed > 0 && slots(lastUsed - 1) == 0) lastUsed -= 1
      val vtLen = 4 + 2 * lastUsed
      prep(2, 0)
      var i = lastUsed - 1
      while (i >= 0) {
        putShort(if (slots(i) == 0) 0 else tablePos - slots(i))
        i -= 1
      }
      putShort(tableLen)
      putShort(vtLen)
      val vtPos = used
      // patch the soffset: table_pos - vtable_pos in absolute terms
      val p = buf.length - tablePos
      val so = vtPos - tablePos
      buf(p) = so.toByte; buf(p + 1) = (so >> 8).toByte
      buf(p + 2) = (so >> 16).toByte; buf(p + 3) = (so >> 24).toByte
      tableMark = -1
      tablePos
    }

    /** Size-prefixed finished buffer: u32 LE total length + buffer.
      * prep extra is 8, not 4: alignment must hold relative to the
      * size-prefixed BLOCK start (root uoffset + the 4-byte prefix), the
      * layout the official FlatBuffers verifier checks — with 4, every
      * 8-byte field would sit at offset = 4 (mod 8) within its block.
      */
    def finishSizePrefixed(rootEndOff: Int): Array[Byte] = {
      prep(maxAlign, 4 + 4)
      putUOffset(rootEndOff)
      val out = new Array[Byte](4 + used)
      out(0) = used.toByte; out(1) = (used >> 8).toByte
      out(2) = (used >> 16).toByte; out(3) = (used >> 24).toByte
      System.arraycopy(buf, buf.length - used, out, 4, used)
      out
    }
  }

  // ---------------------------------------------------------------------------
  // Minimal FlatBuffers reader
  // ---------------------------------------------------------------------------
  private[sources] final class FbBuf(val b: Array[Byte]) {
    def u8(p: Int): Int = b(p) & 0xFF
    def u16(p: Int): Int = (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
    def i32(p: Int): Int = u16(p) | (u16(p + 2) << 16)
    def i64(p: Int): Long = (i32(p).toLong & 0xFFFFFFFFL) | (i32(p + 4).toLong << 32)
    def f64(p: Int): Double = java.lang.Double.longBitsToDouble(i64(p))
    def f32(p: Int): Float = java.lang.Float.intBitsToFloat(i32(p))
    /** Table position from a size-prefixed buffer start (after the u32). */
    def root(start: Int): Int = start + i32(start)
    /** Absolute position of field `id`'s data, or 0 when absent. */
    def field(table: Int, id: Int): Int = {
      val vt = table - i32(table)
      val o = 4 + 2 * id
      if (o >= u16(vt)) 0
      else { val fo = u16(vt + o); if (fo == 0) 0 else table + fo }
    }
    def indirect(p: Int): Int = p + i32(p)
    def vecLen(vec: Int): Int = i32(vec)
    /** Vector length validated against the remaining buffer — a corrupt
      * length must throw, not attempt a multi-GB allocation.
      */
    def vecLenChecked(vec: Int, elemSize: Int): Int = {
      val n = i32(vec)
      require(n >= 0 && n.toLong * elemSize <= b.length.toLong - vec - 4,
        s"corrupt vector length $n at $vec")
      n
    }
    def vecElems(vec: Int): Int = vec + 4
    def string(p: Int): String = {
      val v = indirect(p)
      new String(b, v + 4, i32(v), UTF_8)
    }
  }

  // ---------------------------------------------------------------------------
  // Geometry <-> FlatBuffers Geometry table
  // Field ids (Geometry.fbs): ends=0, xy=1, z=2, m=3, t=4, tm=5, type=6, parts=7
  // ---------------------------------------------------------------------------
  private def geomTypeOf(g: Wkb.Geom): Int = g match {
    case _: Wkb.Pt         => GPoint
    case _: Wkb.Line       => GLine
    case _: Wkb.Poly       => GPoly
    case _: Wkb.MultiPt    => GMultiPoint
    case _: Wkb.MultiLine  => GMultiLine
    case _: Wkb.MultiPoly  => GMultiPoly
    case _: Wkb.Collection => GCollection
  }

  private def deg(scaled: Int): Double = ScaledCoord.toDegrees(scaled)

  private def xyOf(pts: Array[Long]): Array[Double] = {
    val out = new Array[Double](pts.length * 2)
    var i = 0
    while (i < pts.length) {
      out(2 * i) = deg(Wkb.lngOf(pts(i)))
      out(2 * i + 1) = deg(Wkb.latOf(pts(i)))
      i += 1
    }
    out
  }

  /** ends in coordinate PAIRS (cumulative ring/part end positions). */
  private def endsOf(rings: Seq[Array[Long]]): Array[Int] = {
    var acc = 0
    rings.map { r => acc += r.length; acc }.toArray
  }

  private def writeGeometry(fb: FbBuilder, g: Wkb.Geom, withType: Boolean): Int = {
    def leaf(xy: Array[Double], ends: Array[Int], tpe: Int): Int = {
      val xyRef = if (xy.nonEmpty) fb.createDoubleVector(xy) else 0
      // omit ends when absent (single-part Point/Line/MultiPoint — an
      // explicit zero-length vector would waste ~8-12 B/feature plus a
      // vtable slot and deviate from reference FGB encoders) and when
      // the reader's fallback ("one ring of all pairs"; none when xy is
      // empty) reconstructs them exactly — a zero-point ring (ends=[0])
      // is non-empty and stays explicit or it vanishes
      val fallback = if (xy.isEmpty) Array.empty[Int] else Array(xy.length / 2)
      val endsRef =
        if (ends.isEmpty || ends.sameElements(fallback)) 0 else fb.createUIntVector(ends)
      fb.startTable(8)
      if (endsRef != 0) fb.slotRef(0, endsRef)
      if (xyRef != 0) fb.slotRef(1, xyRef)
      if (withType) fb.slotByte(6, tpe.toByte)
      fb.endTable()
    }
    g match {
      case Wkb.Pt(lng, lat) =>
        leaf(Array(deg(lng), deg(lat)), Array.empty, GPoint)
      case Wkb.Line(pts) => leaf(xyOf(pts), Array.empty, GLine)
      case Wkb.Poly(rings) =>
        leaf(xyOf(rings.toArray.flatten), endsOf(rings), GPoly)
      case Wkb.MultiPt(pts) => leaf(xyOf(pts), Array.empty, GMultiPoint)
      case Wkb.MultiLine(lines) =>
        leaf(xyOf(lines.toArray.flatten), endsOf(lines), GMultiLine)
      case Wkb.MultiPoly(polys) =>
        // parts: one Polygon geometry per member (spec: multi-part via parts)
        val parts = polys.map(rings => writeGeometry(fb, Wkb.Poly(rings), withType = true))
        val pv = fb.createOffsetVector(parts)
        fb.startTable(8)
        fb.slotRef(7, pv)
        if (withType) fb.slotByte(6, GMultiPoly.toByte)
        fb.endTable()
      case Wkb.Collection(geoms) =>
        val parts = geoms.map(writeGeometry(fb, _, withType = true))
        val pv = fb.createOffsetVector(parts)
        fb.startTable(8)
        fb.slotRef(7, pv)
        if (withType) fb.slotByte(6, GCollection.toByte)
        fb.endTable()
    }
  }

  private def readGeometry(fb: FbBuf, geomTable: Int, headerType: Int): Wkb.Geom =
    readGeometry(fb, geomTable, headerType, new GeomBudget)

  /** Untrusted-input guard: corrupt `parts` uoffsets can alias subtrees
    * into a DAG whose naive traversal is exponential (or cycle into
    * unbounded recursion) — a total node budget per feature turns both
    * into a clean error. Real geometries are nowhere near the cap.
    */
  private final class GeomBudget { var nodes: Int = 100000 }

  private def readGeometry(fb: FbBuf, geomTable: Int, headerType: Int,
                           budget: GeomBudget): Wkb.Geom = {
    budget.nodes -= 1
    require(budget.nodes > 0, "corrupt geometry: node budget exhausted (cyclic/aliased parts)")
    val tF = fb.field(geomTable, 6)
    val tpe = if (tF != 0) fb.u8(tF) else headerType
    def xy: Array[Double] = {
      val f = fb.field(geomTable, 1)
      if (f == 0) return Array.empty
      val v = fb.indirect(f)
      val n = fb.vecLenChecked(v, 8)
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = fb.f64(fb.vecElems(v) + 8 * i); i += 1 }
      out
    }
    def ends(nPairs: Int): Array[Int] = {
      val f = fb.field(geomTable, 0)
      if (f == 0) { if (nPairs == 0) Array.empty else Array(nPairs) }
      else {
        val v = fb.indirect(f)
        Array.tabulate(fb.vecLenChecked(v, 4))(i => fb.i32(fb.vecElems(v) + 4 * i))
      }
    }
    // roundScaled, not toScaled: degrees in the file are OUR toDegrees
    // output (or any f64 ~ i/1e7), and nearest-rounding is its exact
    // inverse — truncation would drop coordinates by one unit whenever
    // i/1e7 is repesented a hair low (the q12/WKT fixpoint lesson)
    def pts(flat: Array[Double], from: Int, until: Int): Array[Long] =
      Array.tabulate(until - from)(i => Wkb.pack(
        ScaledCoord.roundScaled(flat(2 * (from + i))), ScaledCoord.roundScaled(flat(2 * (from + i) + 1))))
    def rings(flat: Array[Double]): Vector[Array[Long]] = {
      val e = ends(flat.length / 2)
      var prev = 0
      e.toVector.map { end => val r = pts(flat, prev, end); prev = end; r }
    }
    def parts: Vector[Wkb.Geom] = {
      val f = fb.field(geomTable, 7)
      require(f != 0, s"multi-part geometry type $tpe without parts")
      val v = fb.indirect(f)
      Vector.tabulate(fb.vecLenChecked(v, 4))(i =>
        readGeometry(fb, fb.indirect(fb.vecElems(v) + 4 * i), headerType = 0, budget))
    }
    tpe match {
      case GPoint =>
        val c = xy
        require(c.length >= 2, "FGB Point without xy")
        Wkb.Pt(ScaledCoord.roundScaled(c(0)), ScaledCoord.roundScaled(c(1)))
      case GLine       => val c = xy; Wkb.Line(pts(c, 0, c.length / 2))
      // rings() drives off the ends FIELD, not off xy emptiness: a
      // zero-point ring is ends=[0] with empty xy and must survive
      case GPoly       => Wkb.Poly(rings(xy))
      case GMultiPoint => val c = xy; Wkb.MultiPt(pts(c, 0, c.length / 2))
      case GMultiLine  => Wkb.MultiLine(rings(xy))
      case GMultiPoly =>
        Wkb.MultiPoly(parts.map { case Wkb.Poly(r) => r
          case other => throw new IllegalArgumentException(s"MultiPolygon part: $other") })
      case GCollection => Wkb.Collection(parts)
      case other       => throw new IllegalArgumentException(s"unsupported FGB geometry type $other")
    }
  }

  // ---------------------------------------------------------------------------
  // Properties <-> the FGB properties binary (u16 column index + value)
  // ---------------------------------------------------------------------------
  private def columnTypeOf(v: PValue): Int = v match {
    case _: PInt8    => CByte
    case _: PUInt8   => CUByte
    case _: PBool    => CBool
    case _: PInt16   => CShort
    case _: PUInt16  => CUShort
    case _: PInt32   => CInt
    case _: PUInt32  => CUInt
    case _: PInt64   => CLong
    case _: PUInt64  => CULong
    case _: PFloat32 => CFloat
    case _: PFloat64 => CDouble
    case _: PString  => CString
    case _: PBytes   => CBinary
    case _: PVec | _: PMap => CJson
  }

  private[graft] def propsBinary(props: Vector[(String, PValue)], colIdx: Map[String, Int],
                          colTypes: Array[Int]): Array[Byte] = {
    val w = new W()
    props.foreach { case (k, v) =>
      val i = colIdx(k)
      require(columnTypeOf(v) == colTypes(i),
        s"property '$k' changes type across features (FGB columns are globally typed)")
      w.u16(i)
      v match {
        case PInt8(x)    => w.u8(x.toInt & 0xFF)
        case PUInt8(x)   => w.u8(x)
        case PBool(x)    => w.u8(if (x) 1 else 0)
        case PInt16(x)   => w.u16(x & 0xFFFF)
        case PUInt16(x)  => w.u16(x)
        case PInt32(x)   => w.u32(x.toLong & 0xFFFFFFFFL)
        case PUInt32(x)  => w.u32(x)
        case PInt64(x)   => w.u64(x)
        case PUInt64(x)  => w.u64(x)
        case PFloat32(x) => w.u32(java.lang.Float.floatToIntBits(x).toLong & 0xFFFFFFFFL)
        case PFloat64(x) => w.u64(java.lang.Double.doubleToLongBits(x))
        case PString(x)  => val b = x.getBytes(UTF_8); w.u32(b.length.toLong); w.bytes(b)
        case PBytes(x)   => w.u32(x.length.toLong); w.bytes(x)
        case other => // Vec/Map as Json-typed string payloads
          val b = GeoJson.propValueJson(other).getBytes(UTF_8)
          w.u32(b.length.toLong); w.bytes(b)
      }
    }
    w.result()
  }

  /** CJson payload -> typed value. One-level Vec/Map comes back TYPED
    * (like the geomedea path) with the canonical scalar element mapping
    * of [[GeoJson.propValue]] — the reference's geozero JSON mapping:
    * bool, integral -> Int64 (UInt64 above i64::MAX), other number ->
    * Float64, string — so narrow widths written through the bridge widen
    * (i8 -> i64, f32 -> f64: the honest price of FGB's column model,
    * which has no element types). Deeper nesting stays JSON text
    * (String), as do unparseable foreign payloads — never an error.
    */
  private[sources] def jsonProp(txt: String): PValue = {
    // JSON null has no PValue: arity inside a Vec must hold, so map it
    // to the text "null" (our writer never emits one — no PNull exists)
    def one(j: GeoJson.J): PValue =
      GeoJson.propValue(j).getOrElse(PString("null"))
    try GeoJson.parseJson(txt) match {
      case GeoJson.JArr(xs)    => PVec(xs.map(one))
      case GeoJson.JObj(fs)    => PMap(fs.map { case (k, v) => k -> one(v) })
      case other               => GeoJson.propValue(other).getOrElse(PString(txt))
    } catch { case scala.util.control.NonFatal(_) => PString(txt) }
  }

  private[graft] def readProps(bin: Array[Byte], colNames: Array[String],
                        colTypes: Array[Int]): Vector[(String, PValue)] = {
    val r = new R(bin)
    val out = Vector.newBuilder[(String, PValue)]
    while (r.pos < bin.length) {
      val i = r.u16()
      val v: PValue = colTypes(i) match {
        case CByte   => PInt8(r.u8().toByte)
        case CUByte  => PUInt8(r.u8())
        case CBool   => PBool(r.u8() != 0)
        case CShort  => PInt16(r.u16().toShort)
        case CUShort => PUInt16(r.u16().toInt)
        case CInt    => PInt32(r.u32().toInt)
        case CUInt   => PUInt32(r.u32())
        case CLong   => PInt64(r.u64())
        case CULong  => PUInt64(r.u64())
        case CFloat  => PFloat32(java.lang.Float.intBitsToFloat(r.u32().toInt))
        case CDouble => PFloat64(java.lang.Double.longBitsToDouble(r.u64()))
        case CString => PString(r.utf8(r.u32().toInt))
        case CJson   => jsonProp(r.utf8(r.u32().toInt))
        // spec DateTime (13): ISO-8601 text, wire-identical to String —
        // decoded as a string property so foreign files with date
        // columns (common in GIS data) scan instead of throwing
        case CDateTime => PString(r.utf8(r.u32().toInt))
        case CBinary => PBytes(r.take(r.u32().toInt))
        case other   => throw new IllegalArgumentException(s"unsupported FGB column type $other")
      }
      out += colNames(i) -> v
    }
    out.result()
  }

  // ---------------------------------------------------------------------------
  // Packed Hilbert R-tree (FGB flavor: 40-byte f64 nodes, feature byte
  // offsets in leaves, first-child node index in internal nodes)
  // ---------------------------------------------------------------------------
  // the tree's shape is geomedea's at branching = nodeSize
  def treeBytes(numItems: Long, nodeSize: Int): Long =
    PackedRTree.nodeCount(numItems, nodeSize) * NodeBytes

  private def buildTree(leaves: IndexedSeq[(Envelope, Long)], nodeSize: Int): Array[Byte] = {
    val ranges = PackedRTree.nodeRangesByLevel(leaves.length.toLong, nodeSize)
    val total = ranges.map(r => r._2 - r._1).sum.toInt
    val bb = java.nio.ByteBuffer.allocate(total * NodeBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val minX = new Array[Double](total); val minY = new Array[Double](total)
    val maxX = new Array[Double](total); val maxY = new Array[Double](total)
    val off = new Array[Long](total)
    val leafStart = ranges.last._1.toInt
    for (i <- leaves.indices) {
      val (e, o) = leaves(i)
      val at = leafStart + i
      minX(at) = deg(e.minLng); minY(at) = deg(e.minLat)
      maxX(at) = deg(e.maxLng); maxY(at) = deg(e.maxLat)
      off(at) = o
    }
    var lvl = ranges.length - 2
    while (lvl >= 0) {
      val (s, e) = ranges(lvl)
      val (cs, ce) = ranges(lvl + 1)
      var p = s
      while (p < e) {
        val first = cs + (p - s) * nodeSize
        val last = math.min(first + nodeSize, ce)
        var mnx = Double.PositiveInfinity; var mny = Double.PositiveInfinity
        var mxx = Double.NegativeInfinity; var mxy = Double.NegativeInfinity
        var c = first
        while (c < last) {
          mnx = math.min(mnx, minX(c.toInt)); mny = math.min(mny, minY(c.toInt))
          mxx = math.max(mxx, maxX(c.toInt)); mxy = math.max(mxy, maxY(c.toInt))
          c += 1
        }
        minX(p.toInt) = mnx; minY(p.toInt) = mny
        maxX(p.toInt) = mxx; maxY(p.toInt) = mxy
        off(p.toInt) = first // internal: index of first child node
        p += 1
      }
      lvl -= 1
    }
    for (i <- 0 until total) {
      bb.putDouble(minX(i)).putDouble(minY(i)).putDouble(maxX(i)).putDouble(maxY(i))
      bb.putLong(off(i))
    }
    bb.array()
  }

  // ---------------------------------------------------------------------------
  // Container write
  // Header field ids (Header.fbs): name=0, envelope=1, geometry_type=2,
  // has_z=3, has_m=4, has_t=5, has_tm=6, columns=7, features_count=8,
  // index_node_size=9, crs=10
  // Column field ids: name=0, type=1
  // Feature field ids: geometry=0, properties=1, columns=2
  // ---------------------------------------------------------------------------
  final case class FgbWritten(bytes: Array[Byte], extent: Envelope,
                              featuresOffset: Long, indexOffset: Long)

  def write(features: Seq[Feature], name: String = "graft",
            nodeSize: Int = DefaultNodeSize): Array[Byte] =
    writeFull(features, name, nodeSize).bytes

  def writeFull(features: Seq[Feature], name: String = "graft",
                nodeSize: Int = DefaultNodeSize): FgbWritten = {
    // header index_node_size is a u16: nodeSize 65536 would silently wrap
    // to 0 (= "no index") while the R-tree bytes are still written, making
    // readers parse index bytes as feature blocks; 1 loops the level math
    require(nodeSize >= 2 && nodeSize <= 0xFFFF,
      s"nodeSize must be in [2, 65535]; got $nodeSize")
    val withBounds = features.map(f => (f, f.geom.envelope))
    val extent = withBounds.foldLeft(Envelope.empty)((e, fb) => e.union(fb._2))
    // ASCENDING hilbert of bbox centers (FGB convention; geomedea is desc)
    val ordered = withBounds.sortBy { case (_, b) =>
      Hilbert.scaled(b.centerLng, b.centerLat, extent)
    }

    // global columns: first-appearance key order, type pinned by first value
    val colNames = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    ordered.foreach { case (f, _) =>
      f.props.foreach { case (k, v) =>
        if (!colNames.contains(k)) colNames(k) = columnTypeOf(v)
      }
    }
    val names = colNames.keys.toArray
    val types = colNames.values.toArray
    val colIdx = names.zipWithIndex.toMap

    val uniformType = ordered.map(f => geomTypeOf(f._1.geom)).distinct match {
      case Seq(t) => t
      case _      => 0 // Unknown: per-feature types
    }

    // features section, remembering per-feature byte offsets for the index
    val featBlocks = new scala.collection.mutable.ArrayBuffer[Array[Byte]](ordered.length)
    val leafOffsets = new Array[Long](ordered.length)
    var featOff = 0L
    ordered.zipWithIndex.foreach { case ((f, _), i) =>
      val block = featureBlock(f, uniformType, colIdx, types)
      featBlocks += block
      leafOffsets(i) = featOff
      featOff += block.length
    }

    val tree =
      if (ordered.isEmpty) Array.emptyByteArray
      else buildTree(ordered.indices.map(i => (ordered(i)._2, leafOffsets(i))), nodeSize)

    val hdr = headerBlock(name, extent, ordered.length.toLong, nodeSize, names, types, uniformType)

    val out = new W(Magic.length + hdr.length + tree.length + featOff.toInt)
    out.bytes(Magic)
    out.bytes(hdr)
    out.bytes(tree)
    featBlocks.foreach(out.bytes)
    FgbWritten(out.result(), extent,
      (Magic.length + hdr.length + tree.length).toLong,
      (Magic.length + hdr.length).toLong)
  }

  /** One size-prefixed Feature table (shared by [[writeFull]] and
    * [[FgbSpool]] so the two paths stay byte-identical).
    */
  private def featureBlock(f: Feature, uniformType: Int,
                           colIdx: Map[String, Int], types: Array[Int]): Array[Byte] = {
    val fb = new FbBuilder
    val geomRef = writeGeometry(fb, f.geom, withType = uniformType == 0)
    val propBytes = propsBinary(f.props, colIdx, types)
    val propRef = if (propBytes.nonEmpty) fb.createByteVector(propBytes) else 0
    fb.startTable(3)
    fb.slotRef(0, geomRef)
    if (propRef != 0) fb.slotRef(1, propRef)
    fb.finishSizePrefixed(fb.endTable())
  }

  /** The size-prefixed Header table (shared by [[writeFull]] and
    * [[FgbSpool]]). `count == 0` writes no envelope and node size 0
    * (= no index), matching the empty-container shape.
    */
  private def headerBlock(name: String, extent: Envelope, count: Long, nodeSize: Int,
                          names: Array[String], types: Array[Int], uniformType: Int): Array[Byte] = {
    val hb = new FbBuilder
    val nameRef = hb.createString(name)
    val envRef =
      if (count == 0) 0
      else hb.createDoubleVector(Array(
        deg(extent.minLng), deg(extent.minLat), deg(extent.maxLng), deg(extent.maxLat)))
    val colRefs = names.indices.map { i =>
      val nref = hb.createString(names(i))
      hb.startTable(2)
      hb.slotRef(0, nref)
      hb.slotByte(1, types(i).toByte)
      hb.endTable()
    }
    val colsRef = if (colRefs.nonEmpty) hb.createOffsetVector(colRefs) else 0
    hb.startTable(11)
    hb.slotRef(0, nameRef)
    if (envRef != 0) hb.slotRef(1, envRef)
    if (uniformType != 0) hb.slotByte(2, uniformType.toByte)
    if (colsRef != 0) hb.slotRef(7, colsRef)
    hb.slotLong(8, count)
    hb.slotShort(9, if (count == 0) 0 else nodeSize) // 0 = no index
    hb.finishSizePrefixed(hb.endTable())
  }

  /** The FlatGeobuf [[graft.sources.FeatureSpool]]: Hilbert-ASCENDING
    * layout, size-prefixed Feature blocks, prefix = magic ++ header ++
    * packed R-tree, splits at block starts.
    *
    * FGB blocks cannot be encoded on arrival: the file's GLOBAL column
    * table (first-appearance key order over the HILBERT-sorted features,
    * type pinned by the first value seen) and the uniform-geometry-type
    * decision are only known once every feature has been seen. So each
    * feature's [[note]] is its geometry type and interned (key,
    * column-type) list — everything the global pass needs WITHOUT a
    * second decode pass over the spill. [[layOut]] builds the column
    * table from the notes in layout order, then decodes each spilled
    * feature once to encode its block.
    *
    * Byte-identical to [[writeFull]] for the same features in the same
    * arrival order (asserted in PropertiesSpec).
    */
  final class FgbSpool(name: String = "graft", nodeSize: Int = DefaultNodeSize,
                       splitGranularity: Long = FeatureSpool.DefaultSplitGranularity)
      extends FeatureSpool(descending = false, {
        // checked before the base class creates the spill file
        require(nodeSize >= 2 && nodeSize <= 0xFFFF,
          s"nodeSize must be in [2, 65535]; got $nodeSize")
        splitGranularity
      }) {

    import java.io.OutputStream

    private val gTypes = new scala.collection.mutable.ArrayBuilder.ofInt
    // per-feature (keyId << 5 | columnType) in prop order; ColumnType <= 12
    private val propMeta = new scala.collection.mutable.ArrayBuffer[Array[Int]]
    private val keyIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    private val keyNames = new scala.collection.mutable.ArrayBuffer[String]

    override protected def note(f: Feature): Unit = {
      gTypes += geomTypeOf(f.geom)
      propMeta += f.props.iterator.map { case (k, v) =>
        val id = keyIds.getOrElseUpdate(k, { keyNames += k; keyNames.length - 1 })
        (id << 5) | columnTypeOf(v)
      }.toArray
    }

    protected def layOut(order: Array[Int], ordered: Iterator[(Array[Byte], Envelope)],
                         extent: Envelope, body: OutputStream): FeatureSpool.Layout = {
      // global column table: first appearance in LAYOUT order, type
      // pinned by the first value seen (== writeFull over `ordered`)
      val colOrder = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
      order.foreach { j =>
        propMeta(j).foreach { packed =>
          val id = packed >>> 5
          if (!colOrder.contains(id)) colOrder(id) = packed & 31
        }
      }
      val names = colOrder.keys.map(keyNames(_)).toArray
      val types = colOrder.values.toArray
      val colIdx = names.zipWithIndex.toMap
      val gt = gTypes.result()
      val uniformType = if (gt.nonEmpty && gt.forall(_ == gt(0))) gt(0) else 0

      val leaves = Vector.newBuilder[(Envelope, Long)]
      var featOff = 0L
      ordered.foreach { case (enc, env) =>
        val block = featureBlock(decodeFeature(enc), uniformType, colIdx, types)
        body.write(block)
        leaves += ((env, featOff))
        featOff += block.length
      }
      val leafVec = leaves.result()
      val tree = if (leafVec.isEmpty) Array.emptyByteArray else buildTree(leafVec, nodeSize)
      val hdr = headerBlock(name, extent, leafVec.length.toLong, nodeSize, names, types, uniformType)
      FeatureSpool.Layout(Magic ++ hdr ++ tree, leafVec.iterator.map(_._2))
    }
  }

  // ---------------------------------------------------------------------------
  // Container read
  // ---------------------------------------------------------------------------
  final case class FgbHeader(name: String, envelope: Option[(Double, Double, Double, Double)],
                             geometryType: Int, colNames: Array[String], colTypes: Array[Int],
                             featuresCount: Long, nodeSize: Int,
                             indexOffset: Long, featuresOffset: Long)

  def readHeader(bytes: Array[Byte]): FgbHeader = {
    // byte 7 is the PATCH version and may vary (the reference JS reader
    // checks only the prefix + major); bytes 0-6 must match
    require(bytes.length >= 12 && (0 until 7).forall(i => bytes(i) == Magic(i)),
      "not a FlatGeobuf file (bad magic)")
    val fb = new FbBuf(bytes)
    val hdrLen = fb.i32(Magic.length)
    val t = fb.root(Magic.length + 4)
    val name = { val f = fb.field(t, 0); if (f == 0) "" else fb.string(f) }
    val env = {
      val f = fb.field(t, 1)
      if (f == 0) None
      else {
        val v = fb.indirect(f)
        require(fb.vecLen(v) >= 4, "FGB envelope must have 4 values")
        Some((fb.f64(fb.vecElems(v)), fb.f64(fb.vecElems(v) + 8),
          fb.f64(fb.vecElems(v) + 16), fb.f64(fb.vecElems(v) + 24)))
      }
    }
    val gt = { val f = fb.field(t, 2); if (f == 0) 0 else fb.u8(f) }
    val (cn, ct) = {
      val f = fb.field(t, 7)
      if (f == 0) (Array.empty[String], Array.empty[Int])
      else {
        val v = fb.indirect(f)
        val n = fb.vecLenChecked(v, 4)
        val names = new Array[String](n); val types = new Array[Int](n)
        for (i <- 0 until n) {
          val c = fb.indirect(fb.vecElems(v) + 4 * i)
          names(i) = { val nf = fb.field(c, 0); if (nf == 0) s"col$i" else fb.string(nf) }
          types(i) = { val tf = fb.field(c, 1); if (tf == 0) CString else fb.u8(tf) }
        }
        (names, types)
      }
    }
    val count = { val f = fb.field(t, 8); if (f == 0) 0L else fb.i64(f) }
    require(count >= 0, s"corrupt FGB features_count $count")
    val nodeSize = { val f = fb.field(t, 9); if (f == 0) DefaultNodeSize else fb.u16(f) }
    // spec minimum is 2 (0 = no index); 1 would make the level math loop
    // forever — fail corrupt/adversarial headers loudly instead
    require(nodeSize == 0 || nodeSize >= 2, s"invalid FGB index_node_size $nodeSize")
    val indexOff = (Magic.length + 4 + hdrLen).toLong
    val idxBytes = if (nodeSize == 0 || count == 0) 0L else treeBytes(count, nodeSize)
    FgbHeader(name, env, gt, cn, ct, count, nodeSize, indexOff, indexOff + idxBytes)
  }

  /** Full scan in file (Hilbert asc) order. Materializes the whole file:
    * the in-memory reference the streaming [[selectRangeStream]] is tested
    * against.
    */
  def selectAll(bytes: Array[Byte]): Vector[Feature] = {
    val h = readHeader(bytes)
    require(h.featuresOffset <= bytes.length, s"corrupt header: features at ${h.featuresOffset}")
    val fb = new FbBuf(bytes)
    var pos = h.featuresOffset.toInt
    val out = Vector.newBuilder[Feature]
    while (pos < bytes.length) {
      val len = fb.i32(pos)
      // validate the UNTRUSTED size prefix: a corrupt non-positive value
      // would walk backward (or spin in place) forever
      require(len > 0 && pos + 4 + len.toLong <= bytes.length,
        s"corrupt feature size $len at offset $pos")
      out += readFeature(fb, pos, h)
      pos += 4 + len
    }
    out.result()
  }

  private def readFeature(fb: FbBuf, blockPos: Int, h: FgbHeader,
                          geomOnly: Boolean = false): Feature = {
    val t = fb.root(blockPos + 4)
    val gf = fb.field(t, 0)
    require(gf != 0, "FGB feature without geometry")
    val geom = readGeometry(fb, fb.indirect(gf), h.geometryType)
    val props = {
      val pf = fb.field(t, 1)
      // geomOnly (r6): projections with no property column skip the props
      // vector copy + parse entirely (the field offset lookup is all the
      // FlatBuffers walk costs) — same contract as GeomedeaFile's
      // geom-only page decode: emitted props are EMPTY, callers assert
      // their projection first.
      if (pf == 0 || geomOnly) Vector.empty[(String, PValue)]
      else {
        val v = fb.indirect(pf)
        val bin = java.util.Arrays.copyOfRange(fb.b, fb.vecElems(v),
          fb.vecElems(v) + fb.vecLenChecked(v, 1))
        readProps(bin, h.colNames, h.colTypes)
      }
    }
    Feature(geom, props)
  }

  /** Header of a `fileLen`-byte file via positioned range reads only: 12
    * bytes (magic + header length) then the header block — never the
    * index or features. The header length and the index size are checked
    * against the file before anything is read or sized from them.
    */
  def readHeaderRanged(readRange: (Long, Int) => Array[Byte], fileLen: Long): FgbHeader = {
    val head = readRange(0, Magic.length + 4)
    require((0 until 7).forall(i => head(i) == Magic(i)), "not a FlatGeobuf file (bad magic)")
    val hdrLen = new FbBuf(head).i32(Magic.length)
    require(hdrLen >= 0 && Magic.length + 4L + hdrLen <= fileLen,
      s"corrupt header length $hdrLen in a $fileLen-byte file")
    val h = readHeader(head ++ readRange((Magic.length + 4).toLong, hdrLen))
    require(h.featuresOffset <= fileLen,
      s"corrupt header: ${h.featuresCount} features need an index past the $fileLen-byte file")
    h
  }

  /** Bounded-transfer indexed bbox scan — the exact counterpart of
    * [[GeomedeaFile.selectBboxRange]] for the FGB layout (this pair is
    * what lets one engine reproduce the reference README's
    * geomedea-vs-FGB partial-download comparison): positioned range
    * reads walk header -> needed index levels (the same
    * [[PackedRTree.descend]]) -> hit feature blocks via
    * batched forward windows (leaf offsets are non-decreasing because
    * leaves follow the Hilbert layout). Streams with O(window) memory.
    * `h` is the file's header, already read by [[readHeaderRanged]]; its
    * bytes count once in [[bytesTransferred]].
    */
  final class RangedFgbScan(readRange: (Long, Int) => Array[Byte], fileLen: Long, h: FgbHeader,
                            q: Envelope, batchBytes: Int)
      extends Iterator[(Long, Feature)] { // (feature byte offset = the format's stable id, feature)
    private var _transferred = h.indexOffset
    def bytesTransferred: Long = _transferred

    private def fetch(off: Long, len: Int): Array[Byte] = {
      val n = math.min(len.toLong, fileLen - off).toInt
      _transferred += n
      readRange(off, n)
    }

    private val offsets: Vector[Long] = {
      require(h.featuresCount == 0 || h.nodeSize > 0, "FGB file has no index; use selectAll + filter")
      val qMinX = deg(q.minLng); val qMinY = deg(q.minLat)
      val qMaxX = deg(q.maxLng); val qMaxY = deg(q.maxLat)
      val out = Vector.newBuilder[Long]
      PackedRTree.descend(h.featuresCount, h.nodeSize, NodeBytes,
        (off, len) => fetch(h.indexOffset + off, len)) { (buf, o) =>
        val fb = new FbBuf(buf)
        !(fb.f64(o + 16) < qMinX || fb.f64(o + 24) < qMinY || fb.f64(o) > qMaxX || fb.f64(o + 8) > qMaxY)
      } { (buf, o) => out += new FbBuf(buf).i64(o + 32) }
      out.result()
    }

    private var winStart = 0L
    private var win: Array[Byte] = null
    private val it = offsets.iterator

    override def hasNext: Boolean = it.hasNext
    override def next(): (Long, Feature) = {
      val off = it.next()
      if (win == null || off < winStart || off + 4 > winStart + win.length) {
        win = fetch(h.featuresOffset + off, batchBytes)
        winStart = off
      }
      val rel = (off - winStart).toInt
      val size = new FbBuf(win).i32(rel)
      // same untrusted-prefix guard as the streaming scans: a corrupt
      // leaf offset or damaged window must fail loudly, not allocate up
      // to 2 GB and misparse a zero-padded block
      require(size > 0 && h.featuresOffset + off + 4 + size.toLong <= fileLen,
        s"corrupt feature size $size at feature offset $off")
      val block: Array[Byte] =
        if (rel + 4 + size <= win.length)
          java.util.Arrays.copyOfRange(win, rel, rel + 4 + size)
        else {
          val have = win.length - rel
          val rest = fetch(h.featuresOffset + off + have, 4 + size - have)
          val b = new Array[Byte](4 + size)
          System.arraycopy(win, rel, b, 0, have)
          System.arraycopy(rest, 0, b, have, rest.length)
          b
        }
      (off, readFeature(new FbBuf(block), 0, h))
    }
  }

  def selectBboxRange(readRange: (Long, Int) => Array[Byte], fileLen: Long, q: Envelope,
                      batchBytes: Int = GeomedeaFile.PageBatchBytes): RangedFgbScan =
    new RangedFgbScan(readRange, fileLen, readHeaderRanged(readRange, fileLen), q, batchBytes)

  /** Streaming scan of ONE block-aligned byte range `[start, end)` of
    * the feature section — the reader's one forward stream, O(feature)
    * memory: a whole file is `[featuresOffset, fileLen)` (empty for a file
    * with no features), an intra-shard split is a writer-sampled block run
    * (the Parquet row-group-split analog), and a limit is a prefix of
    * either. `in` must already be positioned at `start`; `h` is the file's
    * header (the caller reads it via positioned range reads). Emits
    * (stable feature byte offset, feature) pairs, the same as
    * [[selectAll]]. A misaligned boundary fails LOUDLY on the size-prefix
    * framing. `onBlock(bytes)` fires per feature block.
    */
  def selectRangeStream(in: java.io.DataInput, h: FgbHeader,
                        start: Long, end: Long,
                        onBlock: Long => Unit = _ => (),
                        geomOnly: Boolean = false): Iterator[(Long, Feature)] = {
    require(start >= h.featuresOffset && start <= end,
      s"bad block range [$start,$end) for feature section at ${h.featuresOffset}")
    new Iterator[(Long, Feature)] {
      private var pos = start
      override def hasNext: Boolean = pos < end
      override def next(): (Long, Feature) = {
        val off = pos - h.featuresOffset
        val sz = new Array[Byte](4)
        in.readFully(sz)
        val size = new FbBuf(sz).i32(0)
        require(size > 0 && pos + 4 + size.toLong <= end,
          s"corrupt or misaligned feature size $size at offset $pos (split end $end)")
        val block = new Array[Byte](4 + size)
        System.arraycopy(sz, 0, block, 0, 4)
        in.readFully(block, 4, size)
        onBlock(4L + size)
        pos += 4L + size
        (off, readFeature(new FbBuf(block), 0, h, geomOnly))
      }
    }
  }

  final case class FgbBboxRead(features: Vector[Feature], nodesVisited: Long,
                               featureBlocksRead: Long, bytesRead: Long)

  /** Indexed bbox scan: BFS over the 40-byte-node packed tree, then only
    * the hit feature blocks are decoded — the same partial-read shape as
    * geomedea's (`http_reader.rs:86-107`) minus pages/compression, which
    * is exactly the delta the reference's README benchmarks.
    */
  def selectBbox(bytes: Array[Byte], q: Envelope): FgbBboxRead = {
    val h = readHeader(bytes)
    if (h.featuresCount == 0)
      return FgbBboxRead(Vector.empty, 0, 0, 0)
    require(h.nodeSize > 0, "FGB file has no index; use selectAll + filter")
    val fb = new FbBuf(bytes)
    val ranges = PackedRTree.nodeRangesByLevel(h.featuresCount, h.nodeSize)
    val leafStart = ranges.last._1
    val qMinX = deg(q.minLng); val qMinY = deg(q.minLat)
    val qMaxX = deg(q.maxLng); val qMaxY = deg(q.maxLat)
    val base = h.indexOffset.toInt
    var visited = 0L
    val hits = Vector.newBuilder[Long]
    val queue = scala.collection.mutable.Queue[(Long, Long)]((0L, 1L))
    while (queue.nonEmpty) {
      val (s, e) = queue.dequeue()
      var idx = s
      while (idx < e) {
        val p = base + (idx * NodeBytes).toInt
        visited += 1
        val inter = !(fb.f64(p + 16) < qMinX || fb.f64(p + 24) < qMinY ||
          fb.f64(p) > qMaxX || fb.f64(p + 8) > qMaxY)
        if (inter) {
          if (idx >= leafStart) hits += fb.i64(p + 32)
          else {
            val levelIdx = ranges.indexWhere { case (ls, le) => idx >= ls && idx < le }
            val (cs, ce) = ranges(levelIdx + 1)
            val (ls, _) = ranges(levelIdx)
            val first = cs + (idx - ls) * h.nodeSize
            queue.enqueue((first, math.min(first + h.nodeSize, ce)))
          }
        }
        idx += 1
      }
    }
    var blocks = 0L
    var bytesRead = 0L
    val feats = hits.result().map { off =>
      val pos = (h.featuresOffset + off).toInt
      blocks += 1
      bytesRead += 4L + fb.i32(pos)
      readFeature(fb, pos, h)
    }
    FgbBboxRead(feats, visited, blocks, bytesRead)
  }
}
