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
    * (bounds, page_starting_offset, in-page offset), finished-page count,
    * and the page section's total byte length (headers included).
    */
  private[sources] final case class PageAssembly(
      leaves: Vector[(Envelope, Long, Int)], pageCount: Long, pageBytes: Long)

  /** Shared page-assembly core: consumes already-encoded features in
    * LAYOUT order and writes finished page blocks (PageHeader ++ body)
    * to `sink`, holding only the current page in memory. [[writeFull]]
    * feeds it an in-memory iterator (byte-golden tested); [[ShardSpool]]
    * feeds it a temp-file-backed iterator so an executor task never
    * holds its shard.
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
    PageAssembly(leaves.result(), pagesClosed, pageStart)
  }

  /** Decoded pages can never legitimately approach this (the goal is
    * 64 KiB + one feature); a corrupt header must throw, not attempt a
    * multi-GB allocation before zstd rejects it.
    */
  val MaxDecodedPageBytes: Long = 1L << 30

  private def decodePage(r: R, compressed: Boolean): (Array[Byte], Long) = {
    val (encLen, decLen, count) = FeatureCodec.decodePageHeader(r)
    require(decLen <= MaxDecodedPageBytes, s"corrupt page: decoded size $decLen")
    val enc = r.take(encLen.toInt)
    val dec =
      if (compressed) com.github.luben.zstd.Zstd.decompress(enc, decLen.toInt)
      else enc
    require(dec.length.toLong == decLen, s"page decoded ${dec.length} != $decLen")
    (dec, count)
  }

  private def featuresOfPage(body: Array[Byte], count: Long): Vector[Feature] = {
    val r = new R(body)
    Vector.fill(count.toInt) {
      val len = r.u64().toInt
      FeatureCodec.decodeFeature(r.take(len))
    }
  }

  /** Full scan (S4 twin): all features in layout (Hilbert desc) order. */
  def selectAll(bytes: Array[Byte]): Vector[Feature] =
    selectAllLocated(bytes).map(_._2)

  /** Full scan with each feature's `FeatureLocation = (page_starting_
    * offset, in-page offset)` — the format's own STABLE per-feature
    * identifier (`format.rs:4-10`), identical across full and bbox scans.
    */
  def selectAllLocated(bytes: Array[Byte]): Vector[((Long, Int), Feature)] = {
    val r = new R(bytes)
    val (compressed, pageCount, featureCount) = FeatureCodec.decodeHeader(r)
    r.take((PackedRTree.nodeCount(featureCount) * PackedRTree.NodeBytes).toInt) // skip index
    var pageStart = 0L
    val out = Vector.newBuilder[((Long, Int), Feature)]
    (0L until pageCount).foreach { _ =>
      val before = r.pos
      val (body, count) = decodePage(r, compressed)
      val pr = new R(body)
      var i = 0L
      while (i < count) {
        val featOff = pr.pos
        val len = pr.u64().toInt
        out += (((pageStart, featOff), FeatureCodec.decodeFeature(pr.take(len))))
        i += 1
      }
      pageStart += (r.pos - before).toLong
    }
    out.result()
  }

  /** Limited full scan (limit-pushdown path): decode pages ONLY until
    * `n` features have been read — the remaining pages are never
    * decompressed. Returns located features plus decode accounting.
    */
  final case class LimitedRead(features: Vector[((Long, Int), Feature)],
                               pagesDecoded: Long, totalPages: Long,
                               bytesDecoded: Long)

  /** Range-read limited scan: `readRange(offset, len)` is the only I/O
    * primitive (positioned read — FSDataInputStream.readFully or an HTTP
    * range request), and the TRANSFER is bounded too: exactly the 17-byte
    * header plus each needed page's 12-byte page header + encoded body,
    * never the R-tree index or the remaining pages. The partial-download
    * twin of the reference's HTTP reader, applied to LIMIT — and it works
    * on files of ANY size (nothing ever materializes the whole file).
    */
  def selectLimitRange(readRange: (Long, Int) => Array[Byte], n: Int): LimitedRead = {
    val hr = new R(readRange(0, FeatureCodec.HeaderBytes))
    val (compressed, pageCount, featureCount) = FeatureCodec.decodeHeader(hr)
    var pos = FeatureCodec.HeaderBytes.toLong +
      PackedRTree.nodeCount(featureCount) * PackedRTree.NodeBytes
    var pageStart = 0L
    var bytesRead = 0L
    val out = Vector.newBuilder[((Long, Int), Feature)]
    var taken = 0
    var pages = 0L
    var pi = 0L
    while (pi < pageCount && taken < n) {
      val ph = new R(readRange(pos, FeatureCodec.PageHeaderBytes))
      val (encLen, decLen, count) = FeatureCodec.decodePageHeader(ph)
      require(decLen <= MaxDecodedPageBytes, s"corrupt page: decoded size $decLen")
      val enc = readRange(pos + FeatureCodec.PageHeaderBytes, encLen.toInt)
      val body =
        if (compressed) com.github.luben.zstd.Zstd.decompress(enc, decLen.toInt) else enc
      pages += 1
      bytesRead += FeatureCodec.PageHeaderBytes + encLen
      val pr = new R(body)
      var i = 0L
      while (i < count && taken < n) {
        val featOff = pr.pos
        val len = pr.u64().toInt
        out += (((pageStart, featOff), FeatureCodec.decodeFeature(pr.take(len))))
        taken += 1
        i += 1
      }
      val pageBytes = FeatureCodec.PageHeaderBytes + encLen
      pos += pageBytes
      pageStart += pageBytes
      pi += 1
    }
    LimitedRead(out.result(), pages, pageCount, bytesRead)
  }

  /** Index node-range merge threshold: two index read ranges closer than
    * this are coalesced into one request (`packed_r_tree/reader.rs:159-161`
    * — "16,000 bytes ≈ 571 nodes" tradeoff between request count and
    * wasted transfer).
    */
  val RangeMergeBytes: Long = 16000L

  /** Page fetch window: 2 x page-size-goal with the reference's 1.1x
    * overfetch factor (`http_reader.rs:162,174-176`) — each request
    * speculatively reads this much so runs of adjacent hit pages cost one
    * round trip, while a miss wastes at most the window.
    */
  val PageBatchBytes: Int = (2 * DefaultPageSizeGoal * 1.1).toInt

  @inline private def i32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  /** The packed R-tree's leaves intersecting q, found LEVEL BY LEVEL off
    * positioned reads: only the children of intersecting nodes are ever
    * requested, with node ranges closer than [[RangeMergeBytes]]
    * coalesced into one `fetch` (`packed_r_tree/reader.rs:140-187`).
    * `leaf(buf, off)` sees each hit leaf's 28 node bytes in tree (layout)
    * order. Memory is one index level's fetched ranges, whatever the hit
    * count.
    */
  private def descendIndex(fetch: (Long, Int) => Array[Byte], featureCount: Long,
                           q: Envelope)(leaf: (Array[Byte], Int) => Unit): Unit = {
    if (featureCount == 0) return
    val leafStart = PackedRTree.nodeRangesByLevel(featureCount).last._1
    val indexStart = FeatureCodec.HeaderBytes.toLong
    var pending: Vector[(Long, Long)] = Vector((0L, 1L))
    while (pending.nonEmpty) {
      // coalesce node ranges whose byte gap is under the threshold
      val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      pending.foreach { r =>
        if (merged.nonEmpty &&
          (r._1 - merged.last._2) * PackedRTree.NodeBytes <= RangeMergeBytes)
          merged(merged.size - 1) = (merged.last._1, r._2)
        else merged += r
      }
      val bufs = merged.map { case (s, e) =>
        (s, fetch(indexStart + s * PackedRTree.NodeBytes,
          ((e - s) * PackedRTree.NodeBytes).toInt))
      }
      val next = Vector.newBuilder[(Long, Long)]
      // running cursor instead of a per-node lastIndexWhere: bufs are
      // sorted by start and idx is globally ascending across pending
      // (merged preserves pending's order), so the owning buffer only
      // ever moves forward — O(1) amortized vs O(ranges) per node,
      // which went quadratic-ish on wide levels with fragmented hits
      var bi = 0
      pending.foreach { case (s, e) =>
        var idx = s
        while (idx < e) {
          while (bi + 1 < bufs.size && bufs(bi + 1)._1 <= idx) bi += 1
          val (bs, buf) = bufs(bi)
          val off = ((idx - bs) * PackedRTree.NodeBytes).toInt
          val env = Envelope(i32(buf, off), i32(buf, off + 4),
            i32(buf, off + 8), i32(buf, off + 12))
          if (env.intersects(q)) {
            if (idx >= leafStart) leaf(buf, off)
            else PackedRTree.childrenRange(featureCount, idx).foreach(next += _)
          }
          idx += 1
        }
      }
      pending = next.result()
    }
  }

  /** How many features' envelopes intersect q (closed intervals), from
    * the header and the index levels the descent needs — no page is
    * read. Same leaves as [[selectBboxRange]] emits.
    */
  def countBboxRange(readRange: (Long, Int) => Array[Byte], q: Envelope): Long = {
    val (_, _, featureCount) =
      FeatureCodec.decodeHeader(new R(readRange(0, FeatureCodec.HeaderBytes)))
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
    *  2. R-tree traversal LEVEL BY LEVEL — only the children of
    *     intersecting nodes are ever requested, with node ranges closer
    *     than [[RangeMergeBytes]] coalesced into one request
    *     (`packed_r_tree/reader.rs:140-187` semantics);
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
      FeatureCodec.decodeHeader(new R(fetch(0, FeatureCodec.HeaderBytes)))
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

    private val pageBase = FeatureCodec.HeaderBytes.toLong +
      PackedRTree.nodeCount(featureCount) * PackedRTree.NodeBytes
    private var winStart = 0L
    private var win: Array[Byte] = null
    private var curPageOff = -1L
    private var curBody: Array[Byte] = null
    private val it = locs.iterator

    private def bodyFor(pageOff: Long): Array[Byte] = {
      if (pageOff == curPageOff) return curBody
      if (win == null || pageOff < winStart ||
        pageOff + FeatureCodec.PageHeaderBytes > winStart + win.length) {
        win = fetch(pageBase + pageOff, batchBytes)
        winStart = pageOff
      }
      val rel = (pageOff - winStart).toInt
      val (encLen, decLen, _) = FeatureCodec.decodePageHeader(new R(win, rel))
      require(decLen <= MaxDecodedPageBytes, s"corrupt page: decoded size $decLen")
      val bodyStart = rel + FeatureCodec.PageHeaderBytes
      val enc: Array[Byte] =
        if (bodyStart + encLen <= win.length)
          java.util.Arrays.copyOfRange(win, bodyStart, bodyStart + encLen.toInt)
        else { // page tail past the window: fetch exactly the remainder
          val have = math.max(0, win.length - bodyStart)
          val rest = fetch(pageBase + pageOff + FeatureCodec.PageHeaderBytes + have,
            (encLen - have).toInt)
          val buf = new Array[Byte](encLen.toInt)
          if (have > 0) System.arraycopy(win, bodyStart, buf, 0, have)
          System.arraycopy(rest, 0, buf, have, rest.length)
          buf
        }
      curBody =
        if (compressed) com.github.luben.zstd.Zstd.decompress(enc, decLen.toInt) else enc
      curPageOff = pageOff
      _pagesDecoded += 1
      curBody
    }

    override def hasNext: Boolean = it.hasNext
    override def next(): ((Long, Int), Feature) = {
      val (po, fo) = it.next()
      val pr = new R(bodyFor(po), fo)
      val len = pr.u64().toInt
      ((po, fo), FeatureCodec.decodeFeature(pr.take(len)))
    }
  }

  /** Streaming full scan: pages decode one at a time off a forward-only
    * stream — O(page) memory regardless of file size (the reference
    * reader's shape, `reader.rs:11-156`), vs [[selectAllLocated]]'s
    * whole-file materialization. Same rows, same order, same stable
    * FeatureLocations. `onPage(bytes)` fires per decoded page with its
    * encoded size (page header included) for scan metrics.
    */
  /** `geomOnly = true` skips the per-feature props decode in place
    * (pointer jump over the props bytes — no string/value allocation):
    * for projections that need no property column. Emitted features then
    * carry EMPTY props; the DSv2 reader asserts the projection before
    * asking for it.
    */
  def selectAllStream(in: java.io.DataInput,
                      onPage: Long => Unit = _ => (),
                      geomOnly: Boolean = false): Iterator[((Long, Int), Feature)] = {
    val head = new Array[Byte](FeatureCodec.HeaderBytes)
    in.readFully(head)
    val (compressed, pageCount, featureCount) = FeatureCodec.decodeHeader(new R(head))
    var toSkip = PackedRTree.nodeCount(featureCount) * PackedRTree.NodeBytes
    while (toSkip > 0) { // DataInput.skipBytes may skip less than asked
      val skipped = in.skipBytes(math.min(toSkip, Int.MaxValue.toLong).toInt)
      require(skipped > 0, "unexpected EOF while skipping the index section")
      toSkip -= skipped
    }
    new Iterator[((Long, Int), Feature)] {
      private var pageIdx = 0L
      private var pageStart = 0L
      private var inPage: Iterator[((Long, Int), Feature)] = Iterator.empty
      private def advance(): Unit = while (!inPage.hasNext && pageIdx < pageCount) {
        val ph = new Array[Byte](FeatureCodec.PageHeaderBytes)
        in.readFully(ph)
        val (encLen, decLen, count) = FeatureCodec.decodePageHeader(new R(ph))
        require(decLen <= MaxDecodedPageBytes, s"corrupt page: decoded size $decLen")
        val enc = new Array[Byte](encLen.toInt)
        in.readFully(enc)
        val body =
          if (compressed) com.github.luben.zstd.Zstd.decompress(enc, decLen.toInt) else enc
        val thisPageStart = pageStart
        val pr = new R(body)
        inPage = Iterator.fill(count.toInt) {
          val featOff = pr.pos
          val len = pr.u64().toInt
          ((thisPageStart, featOff),
            if (geomOnly) FeatureCodec.decodeFeatureGeomOnly(pr, len)
            else FeatureCodec.decodeFeatureAt(pr, len))
        }
        onPage(FeatureCodec.PageHeaderBytes.toLong + encLen)
        pageStart += FeatureCodec.PageHeaderBytes.toLong + encLen
        pageIdx += 1
      }
      override def hasNext: Boolean = { advance(); inPage.hasNext }
      override def next(): ((Long, Int), Feature) = { advance(); inPage.next() }
    }
  }

  /** Streaming scan of ONE page-aligned byte range `[start, end)` of a
    * container whose data section begins at `dataStart` — the split
    * form of [[selectAllStream]], so one oversized shard can decode as
    * several Spark input partitions (the Parquet row-group-split
    * analog; the reference is single-node and has no counterpart).
    * `in` must already be positioned at `start` (an absolute offset the
    * writer sampled as a page boundary). Emits the same rows with the
    * same stable FeatureLocations as the unsplit scan. Misaligned
    * boundaries fail LOUDLY: page framing is validated per page and the
    * walk must land exactly on `end`.
    */
  def selectPageRange(in: java.io.DataInput, compressed: Boolean,
                      start: Long, end: Long, dataStart: Long,
                      onPage: Long => Unit = _ => (),
                      geomOnly: Boolean = false): Iterator[((Long, Int), Feature)] = {
    require(start >= dataStart && start < end,
      s"bad split range [$start,$end) for data section at $dataStart")
    new Iterator[((Long, Int), Feature)] {
      private var absOff = start
      private var inPage: Iterator[((Long, Int), Feature)] = Iterator.empty
      private def advance(): Unit = while (!inPage.hasNext && absOff < end) {
        val ph = new Array[Byte](FeatureCodec.PageHeaderBytes)
        in.readFully(ph)
        val (encLen, decLen, count) = FeatureCodec.decodePageHeader(new R(ph))
        require(decLen <= MaxDecodedPageBytes, s"corrupt page: decoded size $decLen")
        require(absOff + FeatureCodec.PageHeaderBytes + encLen <= end,
          s"page at $absOff overruns split end $end — misaligned split boundary")
        val enc = new Array[Byte](encLen.toInt)
        in.readFully(enc)
        val body =
          if (compressed) com.github.luben.zstd.Zstd.decompress(enc, decLen.toInt) else enc
        val pageRelStart = absOff - dataStart
        val pr = new R(body)
        inPage = Iterator.fill(count.toInt) {
          val featOff = pr.pos
          val len = pr.u64().toInt
          ((pageRelStart, featOff),
            if (geomOnly) FeatureCodec.decodeFeatureGeomOnly(pr, len)
            else FeatureCodec.decodeFeatureAt(pr, len))
        }
        onPage(FeatureCodec.PageHeaderBytes.toLong + encLen)
        absOff += FeatureCodec.PageHeaderBytes.toLong + encLen
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
    val r = new R(bytes)
    val (compressed, pageCount, featureCount) = FeatureCodec.decodeHeader(r)
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
      val pr = new R(byPage(pageOff), featOff)
      val len = pr.u64().toInt
      FeatureCodec.decodeFeature(pr.take(len))
    }
    BboxRead(feats, locs, byPage.size.toLong, pageCount, fetched,
      (bytes.length - pageSectionStart).toLong)
  }

  def header(bytes: Array[Byte]): (Boolean, Long, Long) =
    FeatureCodec.decodeHeader(new R(bytes))
}
