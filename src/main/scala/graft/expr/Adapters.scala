package graft.expr

import graft.codec.DeltaZigZag
import graft.curve.{Cells, Hilbert}
import graft.geom.{PointInPolygon, ScaledCoord, Wkb}
import graft.index.PackedRTree
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import java.util.{Arrays => JArrays, LinkedHashMap => JLinkedHashMap, Map => JMap}

/** Static methods invoked from generated code via StaticInvoke; all
  * non-primitive returns use Catalyst internal types (ArrayData /
  * UTF8String / InternalRow). A primitive array is returned as
  * `UnsafeArrayData.fromPrimitiveArray`: one copy, no per-element boxing
  * (a `GenericArrayData` over an `Array[Long]` boxes every element).
  * Geometry decode results are memoized
  * per-thread so joins that repeatedly probe the same small build-side
  * WKB blobs (or the same broadcast R-tree literal) parse each blob once
  * per task, not once per row.
  */
object Adapters {

  def scaleUp(degrees: Double): Int = ScaledCoord.toScaled(degrees)
  def scaleDown(scaled: Int): Double = ScaledCoord.toDegrees(scaled)

  def pointWkb(lng: Int, lat: Int): Array[Byte] = Wkb.pointWkb(lng, lat)
  def rectWkb(minLng: Int, minLat: Int, maxLng: Int, maxLat: Int): Array[Byte] =
    Wkb.rectWkb(minLng, minLat, maxLng, maxLat)

  def hilbert(lng: Int, lat: Int, a: Int, b: Int, c: Int, d: Int): Long =
    Hilbert.scaledHilbert(lng, lat, a, b, c, d)

  def cellId(lng: Int, lat: Int, res: Int): Long = Cells.cellId(lng, lat, res)

  def coverEnv(minLng: Int, minLat: Int, maxLng: Int, maxLat: Int, res: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      Cells.cover(graft.geom.Envelope(minLng, minLat, maxLng, maxLat), res))

  def coverWkb(wkb: Array[Byte], res: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Cells.cover(cachedEnvelope(wkb), res))

  def pointKeys(lng: Int, lat: Int, mask: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Cells.pointKeys(lng, lat, mask))

  def coverKeysEnv(minLng: Int, minLat: Int, maxLng: Int, maxLat: Int, maxRes: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      Cells.coverKeys(graft.geom.Envelope(minLng, minLat, maxLng, maxLat), maxRes))

  def kring(cell: Long, res: Int, k: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Cells.kRing(cell, res, k))

  def envelope(wkb: Array[Byte]): InternalRow = {
    val e = cachedEnvelope(wkb)
    new GenericInternalRow(Array[Any](e.minLng, e.minLat, e.maxLng, e.maxLat))
  }

  private val GeomKind = UTF8String.fromString("geom")

  /** Fused geom-span envelope over the interleaved spans array: find the
    * kind=='geom' span, hex-decode its media_ref, stream the envelope —
    * ONE static call replacing filter(lambda) + element_at + unhex +
    * envelope on the headline's hot path (each of those allocates per
    * row: the filtered ArrayData, struct copies, the UTF8String, the
    * unhex buffer). Null when no geom span / null / malformed hex exists
    * — the exact semantics of the composed chain (unhex yields null on
    * bad input, and the chain null-propagates).
    */
  def spanEnvelope(spans: ArrayData): InternalRow = {
    val n = spans.numElements()
    var i = 0
    while (i < n) {
      val s = spans.getStruct(i, 4)
      if (s != null && !s.isNullAt(0) && s.getUTF8String(0).equals(GeomKind)) {
        if (s.isNullAt(2)) return null
        val wkb = hexToBytes(s.getUTF8String(2))
        if (wkb == null) return null
        val e = Wkb.envelopeOf(wkb)
        return new GenericInternalRow(Array[Any](e.minLng, e.minLat, e.maxLng, e.maxLat))
      }
      i += 1
    }
    null
  }

  /** Fused geom-span PARSE: like [[spanEnvelope]] but returns the decoded
    * WKB bytes alongside the envelope in one struct, so the ingest path
    * (which needs BOTH the wkb column and the stat columns) hex-decodes
    * each row once instead of twice — the composed chain and the fused
    * envelope each paid their own decode. Null on no geom span / null /
    * malformed hex, exactly like [[spanEnvelope]] and the composed chain.
    */
  def spanFeature(spans: ArrayData): InternalRow = {
    val n = spans.numElements()
    var i = 0
    while (i < n) {
      val s = spans.getStruct(i, 4)
      if (s != null && !s.isNullAt(0) && s.getUTF8String(0).equals(GeomKind)) {
        if (s.isNullAt(2)) return null
        val wkb = hexToBytes(s.getUTF8String(2))
        if (wkb == null) return null
        val e = Wkb.envelopeOf(wkb)
        return new GenericInternalRow(Array[Any](wkb, e.minLng, e.minLat, e.maxLng, e.maxLat))
      }
      i += 1
    }
    null
  }

  /** unhex twin: null on odd length or non-hex chars (never throws). */
  private def hexToBytes(hex: UTF8String): Array[Byte] = {
    val h = hex.getBytes
    if ((h.length & 1) != 0) return null
    val out = new Array[Byte](h.length / 2)
    var i = 0
    while (i < h.length) {
      val hi = Character.digit(h(i), 16)
      val lo = Character.digit(h(i + 1), 16)
      if (hi < 0 || lo < 0) return null
      out(i / 2) = ((hi << 4) | lo).toByte
      i += 2
    }
    out
  }

  def asText(wkb: Array[Byte]): UTF8String = UTF8String.fromString(Wkb.asTextBytes(wkb))

  def containsWkb(wkb: Array[Byte], lng: Int, lat: Int): Boolean =
    PointInPolygon.containsGeom(cachedGeom(wkb), lng, lat)

  def rtreeHits(treeBytes: Array[Byte], numLeaves: Long,
                minLng: Int, minLat: Int, maxLng: Int, maxLat: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      cachedTree(treeBytes, numLeaves).hits(minLng, minLat, maxLng, maxLat))

  def dzEncode(ints: ArrayData): Array[Byte] = DeltaZigZag.encode(ints.toIntArray())
  def dzDecode(bytes: Array[Byte]): ArrayData = UnsafeArrayData.fromPrimitiveArray(DeltaZigZag.decode(bytes))

  /** WKT text -> WKB bytes (F6 runtime parser, `wkt.rs:24-142` analog). */
  def wktToWkb(text: UTF8String): Array[Byte] = graft.geom.Wkt.toWkb(text.toString)

  // --- bincode feature codec (F2) -------------------------------------------

  /** Encode a point Feature with one string property — the hot ingest
    * shape — with byte parity to the reference (inspector.rs:268-276).
    */
  def encodePointFeature(lng: Int, lat: Int, key: UTF8String, value: UTF8String): Array[Byte] = {
    import graft.codec.FeatureCodec._
    encodeFeature(Feature(Wkb.Pt(lng, lat), Vector(key.toString -> PString(value.toString))))
  }

  /** Decode any bincode feature to struct(wkb, prop_keys, prop_vals). */
  def decodeFeature(bytes: Array[Byte]): InternalRow = {
    val f = graft.codec.FeatureCodec.decodeFeature(bytes)
    new GenericInternalRow(Array[Any](
      Wkb.write(f.geom),
      new GenericArrayData(f.props.map(p => UTF8String.fromString(p._1)).toArray[Any]),
      new GenericArrayData(f.props.map(p =>
        UTF8String.fromString(graft.sources.GeoJson.propValueString(p._2))).toArray[Any])))
  }

  /** Range bucket of a key against DESC-sorted boundaries: the number of
    * boundaries strictly greater than `h` (binary search) — bucket 0 holds
    * the largest keys, matching a `repartitionByRange(col.desc)` layout.
    */
  def rangeBucketDesc(h: Long, boundaries: ArrayData): Int = {
    var lo = 0
    var hi = boundaries.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (boundaries.getLong(mid) > h) lo = mid + 1 else hi = mid
    }
    lo
  }

  // --- Hilbert curve chunks (J6 range join) ---------------------------------

  private val World = graft.geom.Envelope(-1800000000, -900000000, 1800000000, 900000000)

  def hilbertChunk(lng: Int, lat: Int, res: Int): Long =
    Hilbert.chunk(lng, lat, World, res)

  def hilbertChunksEnv(minLng: Int, minLat: Int, maxLng: Int, maxLat: Int, res: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(Hilbert.chunksOfEnvelope(
      graft.geom.Envelope(minLng, minLat, maxLng, maxLat), World, res))

  // --- text fingerprints (training-data pipeline ops) ----------------------

  /** 64-bit SimHash over a token array: each token hashed (FNV-1a 64),
    * per-bit +/-1 vote, sign -> bit. Near-duplicate docs differ in few bits;
    * pairs are blocked on 16-bit chunks (4 chunks: hamming<=3 implies at
    * least one identical chunk, so the blocking join is lossless).
    */
  def simhash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = fnv1a(tokens.getUTF8String(i).getBytes)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Rolling polynomial document fingerprint (content-defined, mod 2^61-1):
    * stable under re-encoding, order-sensitive — the whole-doc analog of the
    * reference's per-feature byte identity.
    */
  def fingerprint(text: UTF8String): Long = {
    val bytes = text.getBytes
    val M = (1L << 61) - 1
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = mulMod61(h, 257L) + (bytes(i) & 0xFF) + 1
      if (h >= M) h -= M
      i += 1
    }
    h
  }

  /** Winnowing-style min-fingerprint over byte 16-gram windows — equal for
    * docs sharing their minimal window, a locality-sensitive doc signature.
    */
  def minShingleFingerprint(text: UTF8String): Long = {
    val bytes = text.getBytes
    if (bytes.length < 16) return fingerprint(text)
    var minFp = Long.MaxValue
    var i = 0
    while (i + 16 <= bytes.length) {
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < i + 16) { h ^= (bytes(j) & 0xFF); h *= 0x100000001b3L; j += 1 }
      val v = h & Long.MaxValue
      if (v < minFp) minFp = v
      i += 1
    }
    minFp
  }

  private def fnv1a(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xFF); h *= 0x100000001b3L; i += 1 }
    h
  }

  private def mulMod61(a: Long, b: Long): Long = {
    // (a*b) mod 2^61-1 without overflow via 128-bit split
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    val M = (1L << 61) - 1
    var r = (lo & M) + ((lo >>> 61) | (hi << 3))
    if (r >= M) r -= M
    r
  }

  // --- per-thread bounded memoization --------------------------------------

  private final class Key(val bytes: Array[Byte]) {
    override val hashCode: Int = JArrays.hashCode(bytes)
    override def equals(o: Any): Boolean = o match {
      case k: Key => JArrays.equals(bytes, k.bytes)
      case _      => false
    }
  }

  private def lru[V](max: Int) = new JLinkedHashMap[Key, V](64, 0.75f, true) {
    override def removeEldestEntry(e: JMap.Entry[Key, V]): Boolean = size() > max
  }

  private def lruId[V](max: Int) = new JLinkedHashMap[IdKey, V](16, 0.75f, true) {
    override def removeEldestEntry(e: JMap.Entry[IdKey, V]): Boolean = size() > max
  }

  private val geomCache = ThreadLocal.withInitial(() => lru[Wkb.Geom](256))
  private val envCache = ThreadLocal.withInitial(() => lru[graft.geom.Envelope](256))
  private val treeCache = ThreadLocal.withInitial(() => lruId[PackedRTree](8))

  /** Envelope via the allocation-free streaming scan ([[Wkb.envelopeOf]]);
    * large blobs additionally memoize the result so repeated build-side
    * probes scan each big polygon once per task.
    */
  private def cachedEnvelope(wkb: Array[Byte]): graft.geom.Envelope = {
    if (wkb.length <= 96) return Wkb.envelopeOf(wkb)
    val cache = envCache.get()
    val k = new Key(wkb)
    var e = cache.get(k)
    if (e == null) { e = Wkb.envelopeOf(wkb); cache.put(k, e) }
    e
  }

  private def cachedGeom(wkb: Array[Byte]): Wkb.Geom = {
    // tiny blobs (points, small rects) parse about as fast as they
    // hash+probe (r6: caching rects too moved the headline < 1%); the cache
    // is for repeated big polygons. The spatial joins filter on the build
    // envelope first, so this re-parse runs only on envelope hits.
    if (wkb.length <= 96) return Wkb.read(wkb)
    val cache = geomCache.get()
    val k = new Key(wkb)
    var g = cache.get(k)
    if (g == null) { g = Wkb.read(wkb); cache.put(k, g) }
    g
  }

  /** Identity key: the tree literal is the SAME array instance for every
    * row a task probes, so reference equality is the right cache key —
    * content-hashing the (up to 8 MiB) serialized tree per probe row
    * cost more than the O(log n) BFS the cache guards. Distinct
    * instances with equal content just occupy separate LRU slots.
    */
  private final class IdKey(val arr: Array[Byte]) {
    override def hashCode: Int = System.identityHashCode(arr)
    override def equals(o: Any): Boolean = o match {
      case k: IdKey => k.arr eq arr
      case _        => false
    }
  }

  private def cachedTree(bytes: Array[Byte], numLeaves: Long): PackedRTree = {
    val cache = treeCache.get()
    val k = new IdKey(bytes)
    var t = cache.get(k)
    if (t == null) { t = new PackedRTree(numLeaves, bytes); cache.put(k, t) }
    t
  }
}
