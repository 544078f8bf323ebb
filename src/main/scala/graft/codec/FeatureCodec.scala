package graft.codec

import graft.geom.Wkb
import java.nio.charset.StandardCharsets

/** Byte-parity feature codec (F2, SURVEY.md §2.8): bincode "legacy"
  * encoding — fixed-width integers, little-endian, u64 length prefixes,
  * u32 enum variant tags (reference config `geomedea/src/lib.rs:49-57`).
  *
  * Encoded shapes (reference types):
  *  - `Feature { geometry, properties }` — `feature.rs:6-10`
  *  - `Geometry` enum, 7 variants tagged 0-6 — `geometry/mod.rs:10-19`
  *  - `Properties` as an ordered seq of (String, PropertyValue) tuples —
  *    `feature.rs:51-64`
  *  - `PropertyValue` enum, 15 variants tagged 0-14 — `feature.rs:178-196`
  *  - `Header { is_compressed, page_count, feature_count }` (17 bytes) —
  *    `lib.rs:92-97`, byte golden `lib.rs:180-195`
  *  - `PageHeader { encoded_page_length, decoded_page_length,
  *    feature_count }` (12 bytes) — `format.rs:13-24`
  *
  * Byte goldens reproduced in FeatureCodecSpec come from the reference's
  * inspector test (`inspector.rs:214-312`) and header test
  * (`lib.rs:180-195`).
  */
object FeatureCodec {

  // --- typed property values (F9's 13 scalar variants + Vec/Map) ----------

  sealed trait PValue
  final case class PBool(v: Boolean) extends PValue
  final case class PInt8(v: Byte) extends PValue
  final case class PUInt8(v: Int) extends PValue // 0..255
  final case class PInt16(v: Short) extends PValue
  final case class PUInt16(v: Int) extends PValue // 0..65535
  final case class PInt32(v: Int) extends PValue
  final case class PUInt32(v: Long) extends PValue // 0..2^32-1
  final case class PInt64(v: Long) extends PValue
  final case class PUInt64(v: Long) extends PValue // raw 64 bits
  final case class PFloat32(v: Float) extends PValue
  final case class PFloat64(v: Double) extends PValue
  final case class PBytes(v: Array[Byte]) extends PValue {
    override def equals(o: Any): Boolean = o match {
      case PBytes(b) => java.util.Arrays.equals(v, b)
      case _         => false
    }
    override def hashCode(): Int = java.util.Arrays.hashCode(v)
  }
  final case class PString(v: String) extends PValue
  final case class PVec(v: Vector[PValue]) extends PValue
  final case class PMap(v: Vector[(String, PValue)]) extends PValue

  /** In-memory feature: engine geometry + ordered typed properties. */
  final case class Feature(geom: Wkb.Geom, props: Vector[(String, PValue)])

  // --- little-endian writers/readers ---------------------------------------

  final class W(initial: Int = 64) {
    private var buf = new Array[Byte](initial)
    private var len = 0
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
    def u8(v: Int): this.type = { ensure(1); buf(len) = v.toByte; len += 1; this }
    def u16(v: Int): this.type = { u8(v & 0xFF); u8((v >>> 8) & 0xFF) }
    def u32(v: Long): this.type = { u16((v & 0xFFFF).toInt); u16(((v >>> 16) & 0xFFFF).toInt) }
    def u64(v: Long): this.type = { u32(v & 0xFFFFFFFFL); u32(v >>> 32) }
    def i32(v: Int): this.type = u32(v.toLong & 0xFFFFFFFFL)
    def f32(v: Float): this.type = u32(java.lang.Float.floatToIntBits(v).toLong & 0xFFFFFFFFL)
    def f64(v: Double): this.type = u64(java.lang.Double.doubleToLongBits(v))
    def bytes(b: Array[Byte]): this.type = { ensure(b.length); System.arraycopy(b, 0, buf, len, b.length); len += b.length; this }
    def lenBytes(b: Array[Byte]): this.type = { u64(b.length.toLong); bytes(b) }
    def str(s: String): this.type = lenBytes(s.getBytes(StandardCharsets.UTF_8))
    def size: Int = len
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  final class R(bytes: Array[Byte], var pos: Int = 0) {
    def u8(): Int = { val v = bytes(pos) & 0xFF; pos += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = (u16().toLong) | (u16().toLong << 16)
    def u64(): Long = u32() | (u32() << 32)
    def i32(): Int = u32().toInt
    def f32(): Float = java.lang.Float.intBitsToFloat(i32())
    def f64(): Double = java.lang.Double.longBitsToDouble(u64())
    /** The next `n` bytes. Checked against the bytes left first: a
      * corrupt length must throw, not allocate (`copyOfRange` would pad a
      * short read with zeros up to any size).
      */
    def take(n: Int): Array[Byte] = {
      checkLength(n)
      val v = java.util.Arrays.copyOfRange(bytes, pos, pos + n); pos += n; v
    }
    private def checkLength(n: Int): Unit =
      require(n >= 0 && n <= remaining, s"corrupt length $n at $pos: $remaining bytes left")
    /** A u64 element count, each element at least `minBytes` wide,
      * checked against the bytes left before anything is sized from it.
      */
    def count(minBytes: Int): Int = {
      val n = u64()
      require(n >= 0 && n <= remaining / minBytes, s"corrupt count $n at ${pos - 8}: $remaining bytes left")
      n.toInt
    }
    def lenBytes(): Array[Byte] = take(count(1))
    def str(): String = utf8(count(1))
    /** The next `n` bytes as UTF-8 text, decoded in place (no copy). */
    def utf8(n: Int): String = {
      checkLength(n)
      val v = new String(bytes, pos, n, StandardCharsets.UTF_8); pos += n; v
    }
    def remaining: Int = bytes.length - pos
  }

  // --- geometry ------------------------------------------------------------

  private def putCoords(w: W, cs: Array[Long]): Unit = {
    w.u64(cs.length.toLong)
    var i = 0
    while (i < cs.length) { w.i32(Wkb.lngOf(cs(i))); w.i32(Wkb.latOf(cs(i))); i += 1 }
  }

  private def putRings(w: W, rs: Vector[Array[Long]]): Unit = {
    w.u64(rs.length.toLong); rs.foreach(putCoords(w, _))
  }

  def putGeometry(w: W, g: Wkb.Geom): Unit = g match {
    case Wkb.Pt(lng, lat)   => w.u32(0); w.i32(lng); w.i32(lat)
    case Wkb.Line(cs)       => w.u32(1); putCoords(w, cs)
    case Wkb.Poly(rs)       => w.u32(2); putRings(w, rs)
    case Wkb.MultiPt(cs)    => w.u32(3); putCoords(w, cs)
    case Wkb.MultiLine(ls)  => w.u32(4); putRings(w, ls)
    case Wkb.MultiPoly(ps)  => w.u32(5); w.u64(ps.length.toLong); ps.foreach(putRings(w, _))
    case Wkb.Collection(gs) => w.u32(6); w.u64(gs.length.toLong); gs.foreach(putGeometry(w, _))
  }

  private def readCoords(r: R): Array[Long] = {
    val n = r.count(8)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = Wkb.pack(r.i32(), r.i32()); i += 1 }
    out
  }

  private def readRings(r: R): Vector[Array[Long]] =
    Vector.fill(r.count(8))(readCoords(r))

  def readGeometry(r: R): Wkb.Geom = r.u32() match {
    case 0 => Wkb.Pt(r.i32(), r.i32())
    case 1 => Wkb.Line(readCoords(r))
    case 2 => Wkb.Poly(readRings(r))
    case 3 => Wkb.MultiPt(readCoords(r))
    case 4 => Wkb.MultiLine(readRings(r))
    case 5 => Wkb.MultiPoly(Vector.fill(r.count(8))(readRings(r)))
    case 6 => Wkb.Collection(Vector.fill(r.count(4))(readGeometry(r)))
    case v => throw new IllegalArgumentException(s"unknown Geometry variant $v")
  }

  // --- property values ------------------------------------------------------

  def putValue(w: W, v: PValue): Unit = v match {
    case PBool(b)    => w.u32(0); w.u8(if (b) 1 else 0)
    case PInt8(x)    => w.u32(1); w.u8(x & 0xFF)
    case PUInt8(x)   => w.u32(2); w.u8(x & 0xFF)
    case PInt16(x)   => w.u32(3); w.u16(x & 0xFFFF)
    case PUInt16(x)  => w.u32(4); w.u16(x & 0xFFFF)
    case PInt32(x)   => w.u32(5); w.i32(x)
    case PUInt32(x)  => w.u32(6); w.u32(x & 0xFFFFFFFFL)
    case PInt64(x)   => w.u32(7); w.u64(x)
    case PUInt64(x)  => w.u32(8); w.u64(x)
    case PFloat32(x) => w.u32(9); w.f32(x)
    case PFloat64(x) => w.u32(10); w.f64(x)
    case PBytes(b)   => w.u32(11); w.lenBytes(b)
    case PString(s)  => w.u32(12); w.str(s)
    case PVec(xs)    => w.u32(13); w.u64(xs.length.toLong); xs.foreach(putValue(w, _))
    case PMap(ps)    => w.u32(14); putProps(w, ps)
  }

  def readValue(r: R): PValue = r.u32() match {
    case 0  => PBool(r.u8() != 0)
    case 1  => PInt8(r.u8().toByte)
    case 2  => PUInt8(r.u8())
    case 3  => PInt16(r.u16().toShort)
    case 4  => PUInt16(r.u16())
    case 5  => PInt32(r.i32())
    case 6  => PUInt32(r.u32())
    case 7  => PInt64(r.u64())
    case 8  => PUInt64(r.u64())
    case 9  => PFloat32(r.f32())
    case 10 => PFloat64(r.f64())
    case 11 => PBytes(r.lenBytes())
    case 12 => PString(r.str())
    case 13 => PVec(Vector.fill(r.count(4))(readValue(r)))
    case 14 => PMap(readProps(r))
    case v  => throw new IllegalArgumentException(s"unknown PropertyValue variant $v")
  }

  def putProps(w: W, props: Vector[(String, PValue)]): Unit = {
    w.u64(props.length.toLong)
    props.foreach { case (k, v) => w.str(k); putValue(w, v) }
  }

  def readProps(r: R): Vector[(String, PValue)] =
    Vector.fill(r.count(12))((r.str(), readValue(r)))

  // --- feature / header / page header ---------------------------------------

  def encodeFeature(f: Feature): Array[Byte] = {
    val w = new W()
    putGeometry(w, f.geom)
    putProps(w, f.props)
    w.result()
  }

  def decodeFeature(bytes: Array[Byte]): Feature = {
    val r = new R(bytes)
    val g = readGeometry(r)
    val p = readProps(r)
    require(r.remaining == 0, s"${r.remaining} trailing bytes after feature")
    Feature(g, p)
  }

  /** In-place decode of a `len`-byte feature at `r.pos` — the page-scan
    * hot path (r6): no `copyOfRange` of the feature bytes, no second
    * reader object. Identical validation to [[decodeFeature]]: the
    * feature must consume exactly `len` bytes.
    */
  def decodeFeatureAt(r: R, len: Int): Feature = {
    val end = r.pos + len
    val g = readGeometry(r)
    val p = readProps(r)
    require(r.pos == end, s"${end - r.pos} trailing bytes after feature")
    Feature(g, p)
  }

  /** Geometry-only in-place decode: parse the geometry, then JUMP over
    * the props section (its extent is implied by the feature length — no
    * string/value materialization). For scans whose projection needs no
    * property column (e.g. `sum(length(wkb))` or a bbox COUNT), the
    * per-feature prop decode is pure waste. Returns `Feature` with EMPTY
    * props — callers must only use this when no props column is required.
    */
  def decodeFeatureGeomOnly(r: R, len: Int): Feature = {
    val end = r.pos + len
    val g = readGeometry(r)
    require(r.pos <= end, s"geometry overran the ${len}-byte feature by ${r.pos - end}")
    r.pos = end
    Feature(g, Vector.empty)
  }

  /** 17-byte file header (`lib.rs:92-97`; golden `lib.rs:180-195`). */
  def encodeHeader(isCompressed: Boolean, pageCount: Long, featureCount: Long): Array[Byte] =
    new W(17).u8(if (isCompressed) 1 else 0).u64(pageCount).u64(featureCount).result()

  def decodeHeader(r: R): (Boolean, Long, Long) = (r.u8() != 0, r.u64(), r.u64())

  /** 12-byte page header (`format.rs:13-24`, fixed size asserted :36-41). */
  def decodePageHeader(r: R): (Long, Long, Long) = (r.u32(), r.u32(), r.u32())

  val HeaderBytes = 17
  val PageHeaderBytes = 12
}
