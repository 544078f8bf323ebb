package graft.geom

import java.nio.{ByteBuffer, ByteOrder}

/** Geometry model + WKB codec.
  *
  * The 7-variant closed geometry type system mirrors the reference
  * (`/root/reference/geomedea/src/geometry/mod.rs:10-19`): Point,
  * LineString, Polygon (ring 0 exterior, rest holes), MultiPoint,
  * MultiLineString, MultiPolygon, GeometryCollection. No 3D, no null
  * geometries. Coordinates are stored internally as scaled i32
  * (see [[ScaledCoord]]); the wire format is standard ISO WKB
  * (little-endian, type codes 1-7) with coordinates in degrees, so
  * quantization happens exactly once at decode (mirroring the
  * reference's quantize-at-ingest behavior).
  */
object Wkb {

  sealed trait Geom {
    /** Recursive bbox, the engine's core projection
      * (`geometry/bounded.rs:5-77`). */
    def envelope: Envelope = this match {
      case Pt(lng, lat)   => Envelope(lng, lat, lng, lat)
      case Line(cs)       => envOfCoords(cs)
      case Poly(rings)    => if (rings.isEmpty) Envelope.empty else envOfCoords(rings.head)
      case MultiPt(cs)    => envOfCoords(cs)
      case MultiLine(ls)  => ls.foldLeft(Envelope.empty)((e, l) => e.union(envOfCoords(l)))
      case MultiPoly(ps)  =>
        ps.foldLeft(Envelope.empty)((e, rings) =>
          if (rings.isEmpty) e else e.union(envOfCoords(rings.head)))
      case Collection(gs) => gs.foldLeft(Envelope.empty)((e, g) => e.union(g.envelope))
    }
  }

  /** coords are (lng, lat) scaled-int pairs packed as Array[Long] via pack(). */
  final case class Pt(lng: Int, lat: Int) extends Geom
  final case class Line(coords: Array[Long]) extends Geom
  final case class Poly(rings: Vector[Array[Long]]) extends Geom
  final case class MultiPt(coords: Array[Long]) extends Geom
  final case class MultiLine(lines: Vector[Array[Long]]) extends Geom
  final case class MultiPoly(polys: Vector[Vector[Array[Long]]]) extends Geom
  final case class Collection(geoms: Vector[Geom]) extends Geom

  @inline def pack(lng: Int, lat: Int): Long = (lng.toLong << 32) | (lat.toLong & 0xFFFFFFFFL)
  @inline def lngOf(packed: Long): Int = (packed >>> 32).toInt
  @inline def latOf(packed: Long): Int = packed.toInt

  private def envOfCoords(cs: Array[Long]): Envelope = {
    var e = Envelope.empty
    var i = 0
    while (i < cs.length) { e = e.extendPoint(lngOf(cs(i)), latOf(cs(i))); i += 1 }
    e
  }

  // --- encode ------------------------------------------------------------

  def write(g: Geom): Array[Byte] = {
    val buf = ByteBuffer.allocate(size(g)).order(ByteOrder.LITTLE_ENDIAN)
    put(buf, g)
    buf.array()
  }

  private def size(g: Geom): Int = g match {
    case _: Pt          => 5 + 16
    case Line(cs)       => 9 + 16 * cs.length
    case Poly(rs)       => 9 + rs.map(r => 4 + 16 * r.length).sum
    case MultiPt(cs)    => 9 + cs.length * (5 + 16)
    case MultiLine(ls)  => 9 + ls.map(l => 9 + 16 * l.length).sum
    case MultiPoly(ps)  => 9 + ps.map(rs => 9 + rs.map(r => 4 + 16 * r.length).sum).sum
    case Collection(gs) => 9 + gs.map(size).sum
  }

  private def putCoord(buf: ByteBuffer, packed: Long): Unit = {
    buf.putDouble(ScaledCoord.toDegrees(lngOf(packed)))
    buf.putDouble(ScaledCoord.toDegrees(latOf(packed)))
  }

  private def put(buf: ByteBuffer, g: Geom): Unit = g match {
    case Pt(lng, lat) =>
      buf.put(1.toByte).putInt(1)
      buf.putDouble(ScaledCoord.toDegrees(lng)).putDouble(ScaledCoord.toDegrees(lat))
    case Line(cs) =>
      buf.put(1.toByte).putInt(2).putInt(cs.length)
      cs.foreach(putCoord(buf, _))
    case Poly(rs) =>
      buf.put(1.toByte).putInt(3).putInt(rs.length)
      rs.foreach { r => buf.putInt(r.length); r.foreach(putCoord(buf, _)) }
    case MultiPt(cs) =>
      buf.put(1.toByte).putInt(4).putInt(cs.length)
      cs.foreach { c => put(buf, Pt(lngOf(c), latOf(c))) }
    case MultiLine(ls) =>
      buf.put(1.toByte).putInt(5).putInt(ls.length)
      ls.foreach(l => put(buf, Line(l)))
    case MultiPoly(ps) =>
      buf.put(1.toByte).putInt(6).putInt(ps.length)
      ps.foreach(p => put(buf, Poly(p)))
    case Collection(gs) =>
      buf.put(1.toByte).putInt(7).putInt(gs.length)
      gs.foreach(put(buf, _))
  }

  // --- decode ------------------------------------------------------------

  def read(bytes: Array[Byte]): Geom = {
    val buf = ByteBuffer.wrap(bytes)
    readGeom(buf)
  }

  private def readGeom(buf: ByteBuffer): Geom = {
    val order = buf.get()
    buf.order(if (order == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val raw = buf.getInt()
    // ISO WKB only: Z/M variants encode as type+1000/2000/3000; EWKB sets
    // flag bits 0x80000000 (Z), 0x40000000 (M), 0x20000000 (SRID). The
    // reference's model is strictly 2D with no SRID (geometry/mod.rs:10-19),
    // so reject rather than silently misparse the SRID word / z-doubles as
    // counts/coordinates.
    if ((raw & 0xE0000000) != 0)
      throw new IllegalArgumentException(
        f"EWKB flags 0x$raw%08X not supported (2D ISO WKB only, no SRID/Z/M)")
    if (raw > 7)
      throw new IllegalArgumentException(
        s"unsupported WKB type $raw (2D types 1-7 only; Z/M variants rejected)")
    val tpe = raw
    tpe match {
      case 1 =>
        Pt(ScaledCoord.roundScaled(buf.getDouble()), ScaledCoord.roundScaled(buf.getDouble()))
      case 2 => Line(readCoords(buf))
      case 3 => Poly(readRings(buf))
      case 4 =>
        val n = count(buf, 21)
        val out = new Array[Long](n)
        var i = 0
        while (i < n) {
          readGeom(buf) match {
            case Pt(lng, lat) => out(i) = pack(lng, lat)
            case other        => throw new IllegalArgumentException(s"MultiPoint child: $other")
          }
          i += 1
        }
        MultiPt(out)
      case 5 =>
        val n = count(buf, 9)
        MultiLine(Vector.fill(n)(readGeom(buf) match {
          case Line(cs) => cs
          case other    => throw new IllegalArgumentException(s"MultiLineString child: $other")
        }))
      case 6 =>
        val n = count(buf, 9)
        MultiPoly(Vector.fill(n)(readGeom(buf) match {
          case Poly(rs) => rs
          case other    => throw new IllegalArgumentException(s"MultiPolygon child: $other")
        }))
      case 7 =>
        val n = count(buf, 9)
        Collection(Vector.fill(n)(readGeom(buf)))
      case other => throw new IllegalArgumentException(s"unsupported WKB type $other")
    }
  }

  /** A WKB count, checked before anything is sized from it: each of the
    * n items takes at least `minBytes` (a coordinate 16, a point 21, a
    * ring's count 4, any other geometry 9), so a negative count or one
    * the bytes left cannot hold is a corrupt blob, not an allocation.
    */
  private def count(buf: ByteBuffer, minBytes: Int): Int = {
    val n = buf.getInt()
    if (n < 0 || n > buf.remaining / minBytes)
      throw new IllegalArgumentException(
        s"WKB count $n does not fit the ${buf.remaining} bytes left")
    n
  }

  private def readCoords(buf: ByteBuffer): Array[Long] = {
    val n = count(buf, 16)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = pack(ScaledCoord.roundScaled(buf.getDouble()), ScaledCoord.roundScaled(buf.getDouble()))
      i += 1
    }
    out
  }

  private def readRings(buf: ByteBuffer): Vector[Array[Long]] = {
    val n = count(buf, 4)
    Vector.fill(n)(readCoords(buf))
  }

  // --- streaming envelope (allocation-free bbox scan) ---------------------

  /** Envelope of a WKB blob WITHOUT materializing geometry objects — the
    * hot-path form of `read(bytes).envelope` (identical result, asserted
    * by property test): one forward scan, no arrays, no Geom allocation.
    * Matches [[Geom.envelope]] semantics exactly, including "polygon bbox
    * = exterior ring only" (`geometry/bounded.rs:30-41`) — hole rings are
    * skipped by advancing the cursor.
    */
  def envelopeOf(bytes: Array[Byte]): Envelope = {
    val buf = ByteBuffer.wrap(bytes)
    envScan(buf)
  }

  private def envScanCoords(buf: ByteBuffer, e0: Envelope): Envelope = {
    val n = count(buf, 16)
    var e = e0
    var i = 0
    while (i < n) {
      val lng = ScaledCoord.roundScaled(buf.getDouble())
      val lat = ScaledCoord.roundScaled(buf.getDouble())
      e = e.extendPoint(lng, lat)
      i += 1
    }
    e
  }

  private def skipCoords(buf: ByteBuffer): Unit = {
    val n = count(buf, 16)
    buf.position(buf.position() + 16 * n)
  }

  private def envScan(buf: ByteBuffer): Envelope = {
    val order = buf.get()
    buf.order(if (order == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val raw = buf.getInt()
    if ((raw & 0xE0000000) != 0 || raw > 7)
      throw new IllegalArgumentException(
        f"unsupported WKB type 0x$raw%08X (2D ISO WKB types 1-7 only)")
    raw match {
      case 1 =>
        val lng = ScaledCoord.roundScaled(buf.getDouble())
        val lat = ScaledCoord.roundScaled(buf.getDouble())
        Envelope(lng, lat, lng, lat)
      case 2 => envScanCoords(buf, Envelope.empty)
      case 3 =>
        val rings = count(buf, 4)
        if (rings == 0) Envelope.empty
        else {
          val e = envScanCoords(buf, Envelope.empty) // exterior ring only
          var r = 1
          while (r < rings) { skipCoords(buf); r += 1 }
          e
        }
      case 4 | 5 | 6 | 7 =>
        val n = count(buf, if (raw == 4) 21 else 9)
        var e = Envelope.empty
        var i = 0
        while (i < n) { e = e.union(envScan(buf)); i += 1 }
        e
      case other => // same failure surface as readGeom for corrupt input
        throw new IllegalArgumentException(s"unsupported WKB type $other")
    }
  }

  // --- static helpers for Catalyst StaticInvoke --------------------------

  /** WKB of a point given scaled-int coords (used by the doc synthesizer). */
  def pointWkb(lng: Int, lat: Int): Array[Byte] = write(Pt(lng, lat))

  /** WKB of an axis-aligned rectangle polygon from scaled-int corners. */
  def rectWkb(minLng: Int, minLat: Int, maxLng: Int, maxLat: Int): Array[Byte] = {
    val ring = Array(
      pack(minLng, minLat), pack(maxLng, minLat), pack(maxLng, maxLat),
      pack(minLng, maxLat), pack(minLng, minLat))
    write(Poly(Vector(ring)))
  }

  /** WKT debug formatting, mirroring `geometry/mod.rs:209-280` —
    * including the reference's `EMPTY` rendering for empty (nested)
    * collections (`fmt_points` / `fmt_polygon_rings_wkt`), so
    * formatter -> [[Wkt.parse]] is a fixpoint.
    */
  def asText(g: Geom): String = {
    def c(packed: Long) = s"${ScaledCoord.toDegrees(lngOf(packed))} ${ScaledCoord.toDegrees(latOf(packed))}"
    def ring(r: Array[Long]) = if (r.isEmpty) "EMPTY" else r.map(c).mkString("(", ",", ")")
    def rings(rs: Vector[Array[Long]]) = if (rs.isEmpty) "EMPTY" else rs.map(ring).mkString("(", ",", ")")
    g match {
      case Pt(lng, lat)   => s"POINT(${ScaledCoord.toDegrees(lng)} ${ScaledCoord.toDegrees(lat)})"
      case Line(cs)       => if (cs.isEmpty) "LINESTRING EMPTY" else s"LINESTRING${ring(cs)}"
      case Poly(rs)       => if (rs.isEmpty) "POLYGON EMPTY" else s"POLYGON${rings(rs)}"
      case MultiPt(cs)    => if (cs.isEmpty) "MULTIPOINT EMPTY" else s"MULTIPOINT${ring(cs)}"
      case MultiLine(ls)  => if (ls.isEmpty) "MULTILINESTRING EMPTY" else s"MULTILINESTRING${rings(ls)}"
      case MultiPoly(ps)  =>
        if (ps.isEmpty) "MULTIPOLYGON EMPTY"
        else s"MULTIPOLYGON${ps.map(rings).mkString("(", ",", ")")}"
      case Collection(gs) =>
        if (gs.isEmpty) "GEOMETRYCOLLECTION EMPTY"
        else s"GEOMETRYCOLLECTION(${gs.map(asText).mkString(",")})"
    }
  }

  def asTextBytes(wkb: Array[Byte]): String = asText(read(wkb))
}
