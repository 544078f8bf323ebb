package graft.sources

import graft.codec.FeatureCodec
import graft.codec.FeatureCodec.{Feature, R, W}
import graft.curve.Hilbert
import graft.geom.Envelope
import graft.index.PackedRTree

/** Single-file container, byte-compatible with the reference format
  * (S1-S3 at byte level; the Spark-scale ingest path remains
  * `jobs.Ingest`'s parquet layout — this is the interop/export twin):
  *
  *   Header(17B) ++ packed R-tree index ++ pages, where each page is
  *   PageHeader(12B) ++ body and the body is a sequence of
  *   u64-length-prefixed bincode features (`writer/mod.rs:68-140`).
  *
  * Layout semantics reproduced:
  *  - features sorted by Hilbert key of their bounds center relative to
  *    the dataset extent, DESCENDING (`writer/mod.rs:77-82`);
  *  - page rollover AFTER the feature that pushes the decoded size past
  *    `pageSizeGoal` (`writer/mod.rs:295-316`, default 64 KiB `lib.rs:47`);
  *  - `FeatureLocation = (page_starting_offset, feature_offset)` where the
  *    page offset counts encoded bytes + 12 per finished page and the
  *    feature offset is the uncompressed in-page position
  *    (`writer/mod.rs:184-206`);
  *  - index leaves pushed in layout order; inner nodes zero-payload
  *    (`packed_r_tree/mod.rs:43-55`);
  *  - zstd page compression when `compressed` (level 0 = zstd default,
  *    `writer/mod.rs:333`) — compressed BYTES are zstd-version dependent,
  *    so byte goldens are asserted uncompressed only, roundtrips both.
  *
  * Readers: the DSv2 source reads in two shapes — [[selectPageRange]],
  * one forward stream over a page-aligned byte range, and
  * [[selectBboxRange]] / [[countBboxRange]], the ranged index descent.
  * The in-memory readers over a whole file's bytes ([[selectAllLocated]],
  * [[selectBboxCounted]]) are the independent references they are tested
  * against. Every length read from the file is checked against the bytes
  * left before anything is allocated from it.
  */
object GeomedeaFile {

  val DefaultPageSizeGoal: Long = 64L * 1024

  final case class Written(bytes: Array[Byte], extent: Envelope, pageCount: Long)

  def write(features: Seq[Feature], compressed: Boolean,
            pageSizeGoal: Long = DefaultPageSizeGoal): Array[Byte] =
    writeFull(features, compressed, pageSizeGoal).bytes

  def writeFull(features: Seq[Feature], compressed: Boolean,
                pageSizeGoal: Long = DefaultPageSizeGoal): Written = {
    val withBounds = features.map(f => (f, f.geom.envelope))
    val extent = withBounds.foldLeft(Envelope.empty)((e, fb) => e.union(fb._2))
    // Hilbert-descending layout order (stable sort, like Rust's sort_by)
    val ordered = withBounds.sortBy { case (_, b) =>
      Hilbert.scaled(b.centerLng, b.centerLat, extent)
    }(Ordering[Long].reverse)

    val pageBuf = new java.io.ByteArrayOutputStream()
    val asm = assemblePages(
      ordered.iterator.map { case (f, b) => (FeatureCodec.encodeFeature(f), b) },
      compressed, pageSizeGoal, pageBuf)
    val tree = PackedRTree.build(asm.leaves)
    val out = new W(FeatureCodec.HeaderBytes + tree.length + pageBuf.size)
    out.bytes(FeatureCodec.encodeHeader(compressed, asm.pageCount, ordered.length.toLong))
    out.bytes(tree)
    out.bytes(pageBuf.toByteArray)
    Written(out.result(), extent, asm.pageCount)
  }

  /** Page-assembly result: index leaves in layout order
    * (bounds, page_starting_offset, in-page offset) and the finished-page
    * count.
    */
  private[sources] final case class PageAssembly(
      leaves: Vector[(Envelope, Long, Int)], pageCount: Long)

  /** Shared page-assembly core: consumes already-encoded features in
    * LAYOUT order and writes finished page blocks (PageHeader ++ body)
    * to `sink`, holding only the current page in memory. [[writeFull]]
    * feeds it an in-memory iterator (byte-golden tested); [[ShardSpool]],
    * the geomedea body encoder of the one spill-backed [[FeatureSpool]],
    * feeds it the spill re-read in layout order so an executor task never
    * holds its shard, and takes its page starts as the split boundaries.
    */
  private[sources] def assemblePages(
      ordered: Iterator[(Array[Byte], Envelope)], compressed: Boolean,
      pageSizeGoal: Long, sink: java.io.OutputStream): PageAssembly = {
    val leaves = Vector.newBuilder[(Envelope, Long, Int)]
    var pageStart = 0L       // encoded offset of current page within page section
    var body = new W()       // uncompressed body of the current page
    var pageFeatures = 0L
    var pagesClosed = 0L

    def closePage(): Unit = {
      pagesClosed += 1
      val decoded = body.result()
      val encoded = if (compressed) com.github.luben.zstd.Zstd.compress(decoded) else decoded
      val w = new W(12 + encoded.length)
      w.u32(encoded.length.toLong).u32(decoded.length.toLong).u32(pageFeatures)
      w.bytes(encoded)
      sink.write(w.result())
      pageStart += encoded.length.toLong + FeatureCodec.PageHeaderBytes
      body = new W()
      pageFeatures = 0
    }

    ordered.foreach { case (enc, bounds) =>
      leaves += ((bounds, pageStart, body.size))
      body.u64(enc.length.toLong).bytes(enc)
      pageFeatures += 1
      if (body.size.toLong > pageSizeGoal) closePage()
    }
    if (pageFeatures > 0 || pagesClosed == 0) closePage()
    PageAssembly(leaves.result(), pagesClosed)
  }

  /** Decoded pages can never legitimately approach this (the goal is
    * 64 KiB + one feature); a corrupt header must throw, not attempt a
    * multi-GB allocation before zstd rejects it.
    */
  val MaxDecodedPageBytes: Long = 1L << 30

  /** Absolute offset of the page section: the header plus the index. */
  def dataStart(featureCount: Long): Long =
    FeatureCodec.HeaderBytes + PackedRTree.nodeCount(featureCount) * PackedRTree.NodeBytes

  /** The 17-byte header `(compressed, pageCount, featureCount)` of a
    * `fileLen`-byte file. Every feature has a 28-byte index leaf, so a
    * feature count the file cannot hold is corruption — refused here,
    * before any index or page size is derived from it.
    */
  def header(head: Array[Byte], fileLen: Long): (Boolean, Long, Long) = {
    val h @ (_, _, featureCount) = FeatureCodec.decodeHeader(new R(head))
    require(featureCount >= 0 &&
      featureCount <= (fileLen - FeatureCodec.HeaderBytes) / PackedRTree.NodeBytes &&
      dataStart(featureCount) <= fileLen,
      s"corrupt header: $featureCount features in a $fileLen-byte file")
    h
  }

  def header(bytes: Array[Byte]): (Boolean, Long, Long) = header(bytes, bytes.length.toLong)

  /** A page header whose encoded body must fit in the `avail` bytes that
    * follow it. Every size is checked before anything is allocated from
    * it: an uncompressed body is its own decoded form, and each feature
    * takes at least its 8-byte length prefix.
    */
  private def pageHeader(r: R, compressed: Boolean, avail: Long): (Int, Int, Int) = {
    val (encLen, decLen, count) = FeatureCodec.decodePageHeader(r)
    require(encLen <= avail, s"corrupt page: $encLen encoded bytes, $avail left")
    require(decLen <= MaxDecodedPageBytes && (compressed || decLen == encLen) &&
      count * 8 <= decLen, s"corrupt page: $encLen/$decLen bytes, $count features")
    (encLen.toInt, decLen.toInt, count.toInt)
  }

  /** A page body's decoded bytes. A zstd frame that declares its content
    * size must declare the page header's size, so a corrupt decoded
    * length is refused before the output buffer is allocated.
    */
  private def inflate(enc: Array[Byte], compressed: Boolean, decLen: Int): Array[Byte] =
    if (!compressed) enc
    else {
      val declared = com.github.luben.zstd.Zstd.getFrameContentSize(enc)
      require(declared == decLen || declared == -1L,
        s"corrupt page: zstd frame declares $declared bytes, header $decLen")
      val dec = com.github.luben.zstd.Zstd.decompress(enc, decLen)
      require(dec.length == decLen, s"page decoded ${dec.length} != $decLen")
      dec
    }

  private def decodePage(r: R, compressed: Boolean): (Array[Byte], Long) = {
    val (encLen, decLen, count) = pageHeader(r, compressed, r.remaining - FeatureCodec.PageHeaderBytes)
    (inflate(r.take(encLen), compressed, decLen), count.toLong)
  }

  /** Full scan (S4 twin): all features in layout (Hilbert desc) order. */
  def selectAll(bytes: Array[Byte]): Vector[Feature] =
    selectAllLocated(bytes).map(_._2)

  /** Full scan with each feature's `FeatureLocation = (page_starting_
    * offset, in-page offset)` — the format's own STABLE per-feature
    * identifier (`format.rs:4-10`), identical across full and bbox scans.
    * Materializes the whole file: the in-memory reference the streaming
    * [[selectPageRange]] is tested against.
    */
  def selectAllLocated(bytes: Array[Byte]): Vector[((Long, Int), Feature)] = {
    val (compressed, pageCount, featureCount) = header(bytes)
    val r = new R(bytes, dataStart(featureCount).toInt)
    var pageStart = 0L
    val out = Vector.newBuilder[((Long, Int), Feature)]
    (0L until pageCount).foreach { _ =>
      val before = r.pos
      val (body, count) = decodePage(r, compressed)
      val pr = new R(body)
      var i = 0L
      while (i < count) {
        val featOff = pr.pos
        out += (((pageStart, featOff), FeatureCodec.decodeFeature(pr.lenBytes())))
        i += 1
      }
      pageStart += (r.pos - before).toLong
    }
    out.result()
  }

  /** Page fetch window: 2 x page-size-goal with the reference's 1.1x
    * overfetch factor (`http_reader.rs:162,174-176`) — each request
    * speculatively reads this much so runs of adjacent hit pages cost one
    * round trip, while a miss wastes at most the window.
    */
  val PageBatchBytes: Int = (2 * DefaultPageSizeGoal * 1.1).toInt

  @inline private def i32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  /** The index leaves intersecting q, in tree (layout) order, off
    * positioned reads ([[PackedRTree.descend]]). `leaf(buf, off)` sees
    * each hit leaf's 28 node bytes.
    */
  private def descendIndex(fetch: (Long, Int) => Array[Byte], featureCount: Long,
                           q: Envelope)(leaf: (Array[Byte], Int) => Unit): Unit =
    PackedRTree.descend(featureCount, PackedRTree.Branching, PackedRTree.NodeBytes,
      (off, len) => fetch(FeatureCodec.HeaderBytes + off, len)) { (buf, off) =>
      !(i32(buf, off + 8) < q.minLng || i32(buf, off + 12) < q.minLat ||
        i32(buf, off) > q.maxLng || i32(buf, off + 4) > q.maxLat)
    }(leaf)

  /** How many features' envelopes intersect q (closed intervals), from
    * the header and the index levels the descent needs — no page is
    * read. Same leaves as [[selectBboxRange]] emits.
    */
  def countBboxRange(readRange: (Long, Int) => Array[Byte], fileLen: Long, q: Envelope): Long = {
    val (_, _, featureCount) = header(readRange(0, FeatureCodec.HeaderBytes), fileLen)
    var n = 0L
    descendIndex(readRange, featureCount, q)((_, _) => n += 1)
    n
  }

  /** Bounded-transfer indexed bbox scan (S7 — the reference's partial-
    * download raison d'être, `http_reader.rs:86-107` + range batching
    * `:121-187`): `readRange(offset, len)` is the ONLY I/O primitive
    * (a positioned read — FSDataInputStream.readFully or an HTTP range
    * request), and the transfer is bounded at every stage:
    *
    *  1. 17-byte header;
    *  2. the R-tree LEVEL BY LEVEL ([[PackedRTree.descend]]) — only the
    *     children of intersecting nodes are ever requested, nearby node
    *     ranges coalesced into one request;
    *  3. hit pages via a sequential [[PageBatchBytes]] fetch window —
    *     adjacent hit pages share one request, non-hit pages inside a
    *     window cost transfer but are never decompressed, and pages
    *     outside every window never leave storage.
    *
    * Features stream page by page (O(window + page) memory — nothing
    * materializes the file, so file size is unconstrained) in tree
    * (= Hilbert layout) order with their stable FeatureLocations, same
    * rows as [[selectBboxCounted]]. Accounting (requests / bytes /
    * pages) is live on the returned scan — the distributed twin of the
    * reference's CountingReader.
    */
  def selectBboxRange(readRange: (Long, Int) => Array[Byte], fileLen: Long,
                      q: Envelope, batchBytes: Int = PageBatchBytes): RangedBboxScan =
    new RangedBboxScan(readRange, fileLen, q, batchBytes)

  final class RangedBboxScan(readRange: (Long, Int) => Array[Byte], fileLen: Long,
                             q: Envelope, batchBytes: Int)
      extends Iterator[((Long, Int), Feature)] {
    require(batchBytes >= FeatureCodec.PageHeaderBytes, s"batchBytes $batchBytes too small")
    private var _requests = 0L
    private var _transferred = 0L
    private var _pagesDecoded = 0L
    def requests: Long = _requests
    def bytesTransferred: Long = _transferred
    def pagesDecoded: Long = _pagesDecoded

    private def fetch(off: Long, len: Int): Array[Byte] = {
      val n = math.min(len.toLong, fileLen - off).toInt
      _requests += 1
      _transferred += n
      readRange(off, n)
    }

    private val (compressed, totalPagesV, featureCount) =
      header(fetch(0, FeatureCodec.HeaderBytes), fileLen)
    def totalPages: Long = totalPagesV

    /** Leaf FeatureLocations intersecting q, in tree (layout) order.
      * Because leaves were pushed in layout order, the emitted page
      * offsets are NON-DECREASING, which is what lets the page stage
      * stream through one forward window.
      */
    private val locs: Vector[(Long, Int)] = {
      val out = Vector.newBuilder[(Long, Int)]
      descendIndex(fetch, featureCount, q) { (buf, off) =>
        out += (((i32(buf, off + 16).toLong & 0xFFFFFFFFL) |
          (i32(buf, off + 20).toLong << 32), i32(buf, off + 24)))
      }
      out.result()
    }

    private val pageBase = dataStart(featureCount)
    private var winStart = 0L
    private var win: Array[Byte] = null
    private var curPageOff = -1L
    private var curBody: Array[Byte] = null
    private val it = locs.iterator

    private def bodyFor(pageOff: Long): Array[Byte] = {
      if (pageOff == curPageOff) return curBody
      val bodyAt = pageBase + pageOff + FeatureCodec.PageHeaderBytes
      require(pageOff >= 0 && bodyAt <= fileLen, s"corrupt index: page offset $pageOff")
      if (win == null || pageOff < winStart ||
        pageOff + FeatureCodec.PageHeaderBytes > winStart + win.length) {
        win = fetch(pageBase + pageOff, batchBytes)
        winStart = pageOff
      }
      val rel = (pageOff - winStart).toInt
      val (encLen, decLen, _) = pageHeader(new R(win, rel), compressed, fileLen - bodyAt)
      val bodyStart = rel + FeatureCodec.PageHeaderBytes
      val enc: Array[Byte] =
        if (bodyStart + encLen <= win.length)
          java.util.Arrays.copyOfRange(win, bodyStart, bodyStart + encLen)
        else { // page tail past the window: fetch exactly the remainder
          val have = math.max(0, win.length - bodyStart)
          val rest = fetch(bodyAt + have, encLen - have)
          val buf = new Array[Byte](encLen)
          if (have > 0) System.arraycopy(win, bodyStart, buf, 0, have)
          System.arraycopy(rest, 0, buf, have, rest.length)
          buf
        }
      curBody = inflate(enc, compressed, decLen)
      curPageOff = pageOff
      _pagesDecoded += 1
      curBody
    }

    override def hasNext: Boolean = it.hasNext
    override def next(): ((Long, Int), Feature) = {
      val (po, fo) = it.next()
      val pr = new R(bodyFor(po), fo)
      ((po, fo), FeatureCodec.decodeFeature(pr.lenBytes()))
    }
  }

  /** Streaming scan of ONE page-aligned byte range `[start, end)` of a
    * container whose page section begins at `dataStart` — the reader's
    * one forward stream (the reference reader's shape,
    * `reader.rs:11-156`): a whole file is `[dataStart, fileLen)`, an
    * intra-shard split is a manifest-sampled page run (the Parquet
    * row-group-split analog), and a limit is a prefix of either. Pages
    * decode one at a time, so memory is O(page) whatever the file size.
    * `in` must already be positioned at `start`. Emits the same rows with
    * the same stable FeatureLocations as [[selectAllLocated]]. Misaligned
    * boundaries fail LOUDLY: each page is checked against `end` before its
    * body is allocated, and the walk must land exactly on `end`.
    * `onPage(bytes)` fires per decoded page with its encoded size (page
    * header included). `geomOnly = true` skips each feature's props in
    * place (no string/value allocation) and emits EMPTY props; the DSv2
    * reader asks for it only when no property column is projected.
    */
  def selectPageRange(in: java.io.DataInput, compressed: Boolean,
                      start: Long, end: Long, dataStart: Long,
                      onPage: Long => Unit = _ => (),
                      geomOnly: Boolean = false): Iterator[((Long, Int), Feature)] = {
    require(start >= dataStart && start <= end,
      s"bad page range [$start,$end) for data section at $dataStart")
    new Iterator[((Long, Int), Feature)] {
      private var absOff = start
      private var inPage: Iterator[((Long, Int), Feature)] = Iterator.empty
      private def advance(): Unit = while (!inPage.hasNext && absOff < end) {
        val ph = new Array[Byte](FeatureCodec.PageHeaderBytes)
        in.readFully(ph)
        val bodyAt = absOff + FeatureCodec.PageHeaderBytes
        val (encLen, decLen, count) = pageHeader(new R(ph), compressed, end - bodyAt)
        val enc = new Array[Byte](encLen)
        in.readFully(enc)
        val body = inflate(enc, compressed, decLen)
        val pageRelStart = absOff - dataStart
        val pr = new R(body)
        inPage = Iterator.fill(count) {
          val featOff = pr.pos
          val len = pr.count(1)
          ((pageRelStart, featOff),
            if (geomOnly) FeatureCodec.decodeFeatureGeomOnly(pr, len)
            else FeatureCodec.decodeFeatureAt(pr, len))
        }
        onPage(FeatureCodec.PageHeaderBytes.toLong + encLen)
        absOff = bodyAt + encLen
      }
      override def hasNext: Boolean = { advance(); inPage.hasNext }
      override def next(): ((Long, Int), Feature) = { advance(); inPage.next() }
    }
  }

  /** Read accounting for the indexed scan — the analog of the
    * reference's request/byte counting (`CountingReader`, and the README
    * measurement "153 requests, 81,175,859 bytes"): each fetched page is
    * one coalesced "request".
    */
  final case class BboxRead(features: Vector[Feature], locations: Vector[(Long, Int)],
                            pagesFetched: Long, totalPages: Long,
                            bytesFetched: Long, totalBytes: Long)

  /** Indexed bbox scan (S5/X3 twin): R-tree query -> page-local reads.
    * Emits features in tree (layout) order, like `reader.rs:25-49`.
    */
  def selectBbox(bytes: Array[Byte], q: Envelope): Vector[Feature] =
    selectBboxCounted(bytes, q).features

  /** Indexed bbox scan with stable FeatureLocations (same ids as
    * [[selectAllLocated]] for the same features).
    */
  def selectBboxLocated(bytes: Array[Byte], q: Envelope): Vector[((Long, Int), Feature)] = {
    val read = selectBboxCounted(bytes, q)
    read.locations.zip(read.features)
  }

  def selectBboxCounted(bytes: Array[Byte], q: Envelope): BboxRead = {
    val (compressed, pageCount, featureCount) = header(bytes)
    val r = new R(bytes, FeatureCodec.HeaderBytes)
    val treeBytes = r.take((PackedRTree.nodeCount(featureCount) * PackedRTree.NodeBytes).toInt)
    val pageSectionStart = r.pos
    val tree = new PackedRTree(featureCount, treeBytes)

    // query returns leaf payloads in tree order; group by page to read
    // each hit page once (the moral twin of the reader's range merging)
    val locs = tree.queryBboxLocations(q)
    var fetched = 0L
    val byPage = locs.map(_._1).distinct.map { pageOff =>
      val pr = new R(bytes, pageSectionStart + pageOff.toInt)
      val (body, _) = decodePage(pr, compressed)
      fetched += pr.pos - (pageSectionStart + pageOff.toInt)
      pageOff -> body
    }.toMap
    val feats = locs.map { case (pageOff, featOff) =>
      FeatureCodec.decodeFeature(new R(byPage(pageOff), featOff).lenBytes())
    }
    BboxRead(feats, locs, byPage.size.toLong, pageCount, fetched,
      (bytes.length - pageSectionStart).toLong)
  }
}
