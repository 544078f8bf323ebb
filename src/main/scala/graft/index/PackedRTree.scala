package graft.index

import graft.geom.Envelope
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/** Packed Hilbert R-tree: shape math, builder, byte codec, bbox query.
  *
  * Semantics mirror the reference's packed R-tree
  * (`/root/reference/geomedea/src/packed_r_tree/`):
  *  - BRANCHING_FACTOR = 16 (`mod.rs:18`), nodes laid out root-first,
  *    level by level; leaves are pushed in Hilbert(-descending) order.
  *  - Node = bounds(4 x i32 LE) + payload(u64 + u32 LE) = 28 bytes
  *    (`mod.rs:32-41`, byte golden `writer.rs:104-131`).
  *  - Shape goldens: 257 leaves -> levels [1,2,17,257], node_count 277,
  *    children_range(1) for 17 leaves = 3..19 (`mod.rs:196-292`).
  *  - Query is BFS from the root; leaf hits emit payloads in tree order
  *    (= Hilbert layout order), `reader.rs:25-49`.
  *
  * In this engine the tree is built once on the driver over the (small)
  * join build side's envelopes and **broadcast** to executors as the raw
  * byte array; probes run zero-allocation over a ByteBuffer view. The
  * u64+u32 payload carries (payloadHi, payloadLo) — for join builds we
  * store the build-row index in payloadHi.
  */
object PackedRTree {
  final val Branching = 16
  final val NodeBytes = 28

  /** Index node ranges closer than this are coalesced into one ranged
    * read (`packed_r_tree/reader.rs:159-161` — "16,000 bytes ≈ 571 nodes",
    * a tradeoff between request count and wasted transfer).
    */
  final val RangeMergeBytes = 16000L

  /** Nodes per level, root level first, for a tree of `branching` fan-out
    * (16 for geomedea, the header's `index_node_size` for FlatGeobuf).
    */
  def nodesPerLevel(numLeaves: Long, branching: Int = Branching): Vector[Long] = {
    if (numLeaves == 0) return Vector.empty
    require(branching >= 2, s"branching factor $branching < 2")
    val levels = mutable.ArrayBuffer[Long](numLeaves)
    var n = numLeaves
    while (n > 1) {
      n = (n + branching - 1) / branching
      levels += n
    }
    levels.reverse.toVector
  }

  def nodeCount(numLeaves: Long, branching: Int = Branching): Long =
    nodesPerLevel(numLeaves, branching).sum

  /** Ranges of node indices per level, root level first (`mod.rs:131-150`). */
  def nodeRangesByLevel(numLeaves: Long, branching: Int = Branching): Vector[(Long, Long)] = {
    var off = 0L
    nodesPerLevel(numLeaves, branching).map { n => val r = (off, off + n); off += n; r }
  }

  /** The ranged R-tree descent both container formats share
    * (`packed_r_tree/reader.rs:140-187`): LEVEL BY LEVEL, only the children
    * of intersecting nodes are ever read, with node ranges whose gap is at
    * most [[RangeMergeBytes]] coalesced into one `fetch(offset, length)` (offsets
    * relative to the index start). `hit(buf, off)` tests the node at
    * `buf(off)`; `leaf(buf, off)` sees each hit leaf in tree (layout)
    * order. Children come straight from the next level's range — each
    * step is one level. Memory is one level's fetched ranges.
    */
  def descend(numLeaves: Long, branching: Int, nodeBytes: Int,
              fetch: (Long, Int) => Array[Byte])(
      hit: (Array[Byte], Int) => Boolean)(leaf: (Array[Byte], Int) => Unit): Unit = {
    val levels = nodeRangesByLevel(numLeaves, branching)
    var pending = mutable.ArrayBuffer[(Long, Long)]()
    if (levels.nonEmpty) pending += levels.head
    var lvl = 0
    while (pending.nonEmpty) {
      val merged = mutable.ArrayBuffer.empty[(Long, Long)]
      pending.foreach { r =>
        if (merged.nonEmpty && (r._1 - merged.last._2) * nodeBytes <= RangeMergeBytes)
          merged(merged.size - 1) = (merged.last._1, r._2)
        else merged += r
      }
      val bufs = merged.map { case (s, e) => (s, fetch(s * nodeBytes, ((e - s) * nodeBytes).toInt)) }
      val isLeaf = lvl == levels.size - 1
      val levelStart = levels(lvl)._1
      val (childStart, childEnd) = if (isLeaf) (0L, 0L) else levels(lvl + 1)
      val next = mutable.ArrayBuffer.empty[(Long, Long)]
      // pending ascends and bufs are sorted by start, so the buffer that
      // holds a node only ever moves forward
      var bi = 0
      pending.foreach { case (s, e) =>
        var idx = s
        while (idx < e) {
          while (bi + 1 < bufs.size && bufs(bi + 1)._1 <= idx) bi += 1
          val (bs, buf) = bufs(bi)
          val off = ((idx - bs) * nodeBytes).toInt
          if (hit(buf, off)) {
            if (isLeaf) leaf(buf, off)
            else {
              val first = childStart + (idx - levelStart) * branching
              val last = math.min(first + branching, childEnd)
              if (next.nonEmpty && next.last._2 == first) next(next.size - 1) = (next.last._1, last)
              else next += ((first, last))
            }
          }
          idx += 1
        }
      }
      pending = next
      lvl += 1
    }
  }

  def isLeafNode(numLeaves: Long, nodeIdx: Long): Boolean = {
    val ranges = nodeRangesByLevel(numLeaves)
    ranges.nonEmpty && nodeIdx >= ranges.last._1
  }

  def levelForNodeIdx(numLeaves: Long, nodeIdx: Long): Int = {
    // levels numbered from the leaves up: leaf level = 0 (`mod.rs` tests)
    val ranges = nodeRangesByLevel(numLeaves)
    val i = ranges.indexWhere { case (s, e) => nodeIdx >= s && nodeIdx < e }
    require(i >= 0, s"node $nodeIdx out of range")
    ranges.length - 1 - i
  }

  /** Children of an inner node; None for leaves / empty trees. */
  def childrenRange(numLeaves: Long, nodeIdx: Long): Option[(Long, Long)] = {
    val ranges = nodeRangesByLevel(numLeaves)
    if (ranges.isEmpty) return None
    val levelIdx = ranges.indexWhere { case (s, e) => nodeIdx >= s && nodeIdx < e }
    if (levelIdx < 0 || levelIdx == ranges.length - 1) return None
    val (levelStart, _) = ranges(levelIdx)
    val (childStart, childEnd) = ranges(levelIdx + 1)
    val first = childStart + (nodeIdx - levelStart) * Branching
    Some((first, math.min(first + Branching, childEnd)))
  }

  /** Build a packed tree over leaves already sorted in layout (Hilbert desc)
    * order. Returns the full node array serialized to the reference's
    * 28-byte-per-node layout.
    */
  def build(leaves: IndexedSeq[(Envelope, Long, Int)]): Array[Byte] = {
    val numLeaves = leaves.length.toLong
    val total = nodeCount(numLeaves)
    val minLng = new Array[Int](total.toInt)
    val minLat = new Array[Int](total.toInt)
    val maxLng = new Array[Int](total.toInt)
    val maxLat = new Array[Int](total.toInt)
    val payHi = new Array[Long](total.toInt)
    val payLo = new Array[Int](total.toInt)
    val ranges = nodeRangesByLevel(numLeaves)
    if (ranges.nonEmpty) {
      val leafStart = ranges.last._1.toInt
      var i = 0
      while (i < leaves.length) {
        val (env, hi, lo) = leaves(i)
        val at = leafStart + i
        minLng(at) = env.minLng; minLat(at) = env.minLat
        maxLng(at) = env.maxLng; maxLat(at) = env.maxLat
        payHi(at) = hi; payLo(at) = lo
        i += 1
      }
      // roll up: each parent's bounds = union of its children
      var lvl = ranges.length - 2
      while (lvl >= 0) {
        val (s, e) = ranges(lvl)
        var p = s
        while (p < e) {
          childrenRange(numLeaves, p).foreach { case (cs, ce) =>
            var env = Envelope.empty
            var c = cs
            while (c < ce) {
              env = env.union(Envelope(minLng(c.toInt), minLat(c.toInt), maxLng(c.toInt), maxLat(c.toInt)))
              c += 1
            }
            minLng(p.toInt) = env.minLng; minLat(p.toInt) = env.minLat
            maxLng(p.toInt) = env.maxLng; maxLat(p.toInt) = env.maxLat
          }
          p += 1
        }
        lvl -= 1
      }
    }
    val buf = ByteBuffer.allocate((total * NodeBytes).toInt).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < total) {
      buf.putInt(minLng(i)).putInt(minLat(i)).putInt(maxLng(i)).putInt(maxLat(i))
      buf.putLong(payHi(i)).putInt(payLo(i))
      i += 1
    }
    buf.array()
  }
}

/** Query-side view over the serialized tree bytes (broadcast-friendly). */
final class PackedRTree(val numLeaves: Long, val bytes: Array[Byte]) extends Serializable {
  import PackedRTree._
  require(bytes.length.toLong == nodeCount(numLeaves) * NodeBytes,
    s"tree bytes ${bytes.length} != ${nodeCount(numLeaves) * NodeBytes} for $numLeaves leaves")

  // level ranges and the leaf start are pure functions of numLeaves:
  // computed ONCE per tree instance, never per probe — the broadcast
  // R-tree join calls leafHits once per probe ROW, and rebuilding the
  // per-level Vector there (and again inside every visited inner node's
  // children lookup) made the hot path O(rows * nodes * depth) in
  // redundant allocations
  private val ranges: Vector[(Long, Long)] = nodeRangesByLevel(numLeaves)
  private val leafStart: Long = if (ranges.isEmpty) 0L else ranges.last._1

  /** [[PackedRTree.childrenRange]] over the cached ranges; caller
    * guarantees `nodeIdx` is an inner node of a non-empty tree.
    */
  private def childRangeCached(nodeIdx: Long): (Long, Long) = {
    var levelIdx = 0
    while (!(nodeIdx >= ranges(levelIdx)._1 && nodeIdx < ranges(levelIdx)._2)) levelIdx += 1
    val (levelStart, _) = ranges(levelIdx)
    val (childStart, childEnd) = ranges(levelIdx + 1)
    val first = childStart + (nodeIdx - levelStart) * Branching
    (first, math.min(first + Branching, childEnd))
  }

  @inline private def i32(off: Int): Int =
    (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8) |
      ((bytes(off + 2) & 0xFF) << 16) | ((bytes(off + 3) & 0xFF) << 24)

  @inline private def i64(off: Int): Long =
    (i32(off).toLong & 0xFFFFFFFFL) | (i32(off + 4).toLong << 32)

  def nodeEnvelope(idx: Long): Envelope = {
    val o = (idx * NodeBytes).toInt
    Envelope(i32(o), i32(o + 4), i32(o + 8), i32(o + 12))
  }

  def payloadHi(idx: Long): Long = i64((idx * NodeBytes).toInt + 16)
  def payloadLo(idx: Long): Int = i32((idx * NodeBytes).toInt + 24)

  /** Shared BFS: node indices of hit LEAVES in tree (Hilbert) order —
    * one primitive-array traversal backing both query shapes, no per-hit
    * tuple boxing on the per-row probe path.
    */
  private def leafHits(q: Envelope): Array[Long] = {
    if (numLeaves == 0) return Array.emptyLongArray
    val results = new mutable.ArrayBuilder.ofLong
    val queue = mutable.Queue[(Long, Long)]((0L, 1L))
    while (queue.nonEmpty) {
      val (s, e) = queue.dequeue()
      var idx = s
      while (idx < e) {
        if (nodeEnvelope(idx).intersects(q)) {
          if (idx >= leafStart) results += idx
          else queue.enqueue(childRangeCached(idx))
        }
        idx += 1
      }
    }
    results.result()
  }

  /** BFS bbox query; emits leaf payloadHi values in tree (Hilbert) order
    * (`reader.rs:25-49`).
    */
  def queryBbox(q: Envelope): Array[Long] = {
    val idxs = leafHits(q)
    val out = new Array[Long](idxs.length)
    var i = 0
    while (i < idxs.length) { out(i) = payloadHi(idxs(i)); i += 1 }
    out
  }

  /** Like [[queryBbox]] but emits both payload halves — for the file
    * reader these are `FeatureLocation = (page_starting_offset,
    * feature_offset)` pairs (`format.rs:4-10`), in tree order.
    */
  def queryBboxLocations(q: Envelope): Vector[(Long, Int)] =
    leafHits(q).toVector.map(i => (payloadHi(i), payloadLo(i)))

  /** Leaf payloads whose envelope intersects (minLng..maxLat); Catalyst
    * StaticInvoke-friendly signature.
    */
  def hits(minLng: Int, minLat: Int, maxLng: Int, maxLat: Int): Array[Long] =
    queryBbox(Envelope(minLng, minLat, maxLng, maxLat))
}
