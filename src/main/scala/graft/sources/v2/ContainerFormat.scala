package graft.sources.v2

import graft.codec.FeatureCodec
import graft.codec.FeatureCodec.Feature
import graft.geom.Envelope
import graft.sources.{FeatureSpool, GeomedeaFile, ShardSpool, FlatGeobuf => Fgb}
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path}
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** What differs between the two single-file containers the DSv2 stack
  * serves ([[ContainerTable]], its scan, stream and writer). Everything
  * else — file planning over manifests and headers (one step for scans
  * and streams), limit planning, header-only aggregates, index-only
  * window counts, statistics, the commit/abort/manifest protocol — is
  * written once against this descriptor.
  */
sealed abstract class ContainerFormat(val name: String, val suffix: String,
                                      location: StructField*) extends Serializable {

  /** Output row ([[FeatureRows.tableSchema]]) with this format's location
    * columns: its own per-feature id, identical across pruned and full
    * scans.
    */
  val schema: StructType = FeatureRows.tableSchema(location: _*)

  /** The per-feature location value the readers emit. */
  type Loc

  /** The location columns off a [[Loc]]. */
  def locationColumns: PartialFunction[String, Loc => Any]

  /** Manifest entry from the file's own header alone: the planning
    * fallback when no valid manifest describes the file, and the
    * manifest self-heal for shards a commit did not write.
    */
  def headerEntry(fs: FileSystem, s: FileStatus): GeomedeaManifest.Entry

  /** Whether a header/manifest feature count is exact. A geomedea count
    * always is (0 = empty); FGB `features_count = 0` means UNKNOWN
    * (streamed writers), so it may neither prune nor be counted.
    */
  def countKnown(count: Long): Boolean

  /** Filterless aggregates the headers answer exactly (see [[HeaderStat]]). */
  def headerStats: Set[HeaderStat]

  /** Whether every index leaf holds its feature's own scaled-int envelope —
    * the very values of the envelope columns — so the exact side filters
    * ([[BboxFilterAbsorber.exact]]) may be claimed as fully pushed and a
    * window COUNT(*) answered by [[indexCount]].
    */
  def exactIndex: Boolean

  /** How many of one `len`-byte file's features intersect `q` (closed
    * intervals), from its header and index alone. Only asked when
    * [[exactIndex]].
    */
  def indexCount(fs: FileSystem, path: Path, len: Long, q: Envelope): Long

  /** The SQL-UI scan metrics the reader reports. */
  def metrics: Array[CustomMetric]

  /** One partition's feature iterator, in one of two shapes: with a bbox,
    * the ranged index descent to the hit pages/blocks; otherwise one
    * forward stream over a byte range — the partition's intra-shard split,
    * or the whole data section. A pushed limit is the reader factory's
    * prefix of either. The file is opened here and only here, with the
    * length planning recorded (no status call per task); a read that
    * fails before the iterator exists — a corrupt header, a stale split —
    * closes it before rethrowing.
    */
  final def decode(fs: FileSystem, part: GeomedeaPartition, bbox: Option[Envelope],
                   geomOnly: Boolean): ContainerFormat.Decode[Loc] = {
    val in = fs.open(new Path(part.file))
    try {
      val (features, counters) = read(in, part, bbox, geomOnly)
      new ContainerFormat.Decode(features, counters, in)
    } catch { case e: Throwable => in.close(); throw e }
  }

  /** [[decode]] over the open stream of the partition's `part.len`-byte
    * file: the features and the live (pages, bytes) decode counters.
    */
  protected def read(in: FSDataInputStream, part: GeomedeaPartition, bbox: Option[Envelope],
                     geomOnly: Boolean): (Iterator[(Loc, Feature)], () => (Long, Long))

  /** Validated write options -> a task-side spool factory. */
  def spool(options: CaseInsensitiveStringMap, splitGranularity: Long): () => FeatureSpool

  /** The write options that carry a compaction's `compressed` flag. */
  def compressionOptions(compressed: Boolean): Map[String, String]

  /** Planning-time pruning: may a shard described by `e` hold a feature
    * intersecting `q`? No extent means count 0: an empty shard is
    * pruned, an unknown-count one never is.
    */
  def mayIntersect(e: GeomedeaManifest.Entry, q: Envelope): Boolean =
    e.extent.fold(!countKnown(e.count))(_.intersects(q))

  /** The container files directly inside `dir`, in listing order. */
  private[graft] def shards(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(suffix))

  /** The plannable files of `paths` (each a container file or a directory
    * of them): [[planFiles]] over each directory's whole listing.
    */
  def scanFiles(paths: Seq[String], bbox: Option[Envelope]): Seq[ContainerTable.ScanFile] = {
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    planFiles(paths.map { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) ContainerFormat.Listing(fs, None, Seq(st), Seq(st))
      else {
        val files = shards(fs, p)
        ContainerFormat.Listing(fs, Some(p), files, files)
      }
    }, bbox)
  }

  /** [[scanFiles]] of one `load(path)`. */
  def scanFiles(path: String, bbox: Option[Envelope]): Seq[ContainerTable.ScanFile] =
    scanFiles(Seq(path), bbox)

  /** The one file-planning step of batch scans and streams: the `plan`
    * subset of each listing. A directory written by the v2 writer carries
    * a [[GeomedeaManifest]] — extents/counts for the whole lake in ONE
    * driver read, trusted only when [[GeomedeaManifest.validated]] accepts
    * it against the directory's whole listing — so a 100k-shard lake plans
    * without 100k header round trips on every query. Every other file (a
    * listed file, or a directory without a valid manifest) has its header
    * read, all of them fanned out on one bounded pool — serial
    * object-store round trips would make PLANNING the bottleneck (Spark's
    * own parquet footer reads use the same trick). With a bbox, files that
    * cannot intersect it are dropped ([[mayIntersect]]). Sorted by path
    * for deterministic planning.
    */
  private[v2] def planFiles(listings: Seq[ContainerFormat.Listing],
                            bbox: Option[Envelope]): Seq[ContainerTable.ScanFile] = {
    val (described, unread) = listings.partitionMap { l =>
      l.dir.flatMap(GeomedeaManifest.validated(l.fs, _, l.files)) match {
        case Some(m) => Left(l.plan.map(f => f -> m(f.getPath.getName)))
        case None    => Right(l.plan.map(l.fs -> _)) // absent or stale: header reads
      }
    }
    val headed = PlannerPool.mapFiles(unread.flatten) { case (fs, s) => s -> headerEntry(fs, s) }
    (described.flatten ++ headed).collect {
      case (s, e) if bbox.forall(mayIntersect(e, _)) =>
        ContainerTable.ScanFile(s.getPath.toString, s.getLen, e.count, e.validSplits, e.extent)
    }.sortBy(_.path)
  }
}

object ContainerFormat {

  val all: Seq[ContainerFormat] = Seq(Geomedea, FlatGeobuf)

  def named(name: String): Option[ContainerFormat] = all.find(_.name == name)

  /** What one planning call lists: `files`, the container files of `dir`
    * (None for a path naming one file, which only its header describes),
    * and the subset `plan` of them to plan.
    */
  private[v2] final case class Listing(fs: FileSystem, dir: Option[Path],
                                       files: Seq[FileStatus], plan: Seq[FileStatus])

  /** One partition's open read: located features, the live (pages, bytes)
    * decode counters, and the stream to close.
    */
  final class Decode[L](val features: Iterator[(L, Feature)],
                        val counters: () => (Long, Long),
                        val stream: java.io.Closeable)

  private def rangeReader(in: FSDataInputStream): (Long, Int) => Array[Byte] =
    (off, k) => { val b = new Array[Byte](k); in.readFully(off, b); b }

  /** The byte range a stream reads: the partition's split, checked
    * against the section start the file's own header gives — a stale or
    * forged boundary list fails loudly rather than emitting shifted
    * location ids — or the whole section `[dataStart, len)`.
    */
  private def streamRange(part: GeomedeaPartition, dataStart: Long, len: Long): (Long, Long) =
    if (part.start < 0) (dataStart, len)
    else {
      require(dataStart == part.dataStart,
        s"${part.file}: manifest split base ${part.dataStart} != data section " +
          s"at $dataStart — stale manifest splits; re-run a writer commit")
      (part.start, part.end)
    }

  /** The reference's `.geomedea` container: header, packed R-tree, pages. */
  case object Geomedea extends ContainerFormat("geomedea", ".geomedea",
    StructField("page_offset", LongType, nullable = false),
    StructField("feature_offset", IntegerType, nullable = false)) {

    /** (page_offset, feature_offset): the format's FeatureLocation
      * (`format.rs:4-10`).
      */
    type Loc = (Long, Int)

    def locationColumns: PartialFunction[String, Loc => Any] = {
      case "page_offset"    => _._1
      case "feature_offset" => _._2
    }

    val HeadBytes: Int = FeatureCodec.HeaderBytes + graft.index.PackedRTree.NodeBytes

    /** File extent without reading the file: header (17B) + R-tree root
      * node bounds (nodes are root-first, `packed_r_tree/mod.rs:32-41`).
      * None when the file is empty (featureCount 0 — no root exists).
      */
    def fileExtent(head: Array[Byte]): Option[Envelope] = {
      val r = new FeatureCodec.R(head)
      val (_, _, featureCount) = FeatureCodec.decodeHeader(r)
      if (featureCount == 0) return None
      val bb = java.nio.ByteBuffer.wrap(head, r.pos, 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Some(Envelope(bb.getInt, bb.getInt, bb.getInt, bb.getInt))
    }

    /** One 45-byte head read (the format's analog of a parquet footer
      * read): the header's feature count and the R-tree ROOT bounds, which
      * the writer maintains as the exact union of the feature envelopes.
      */
    def headerEntry(fs: FileSystem, s: FileStatus): GeomedeaManifest.Entry = {
      require(s.getLen >= FeatureCodec.HeaderBytes,
        s"${s.getPath}: ${s.getLen} bytes is shorter than a .geomedea header " +
          s"(${FeatureCodec.HeaderBytes}) — truncated or not a geomedea file")
      val in = fs.open(s.getPath)
      val head = new Array[Byte](math.min(HeadBytes.toLong, s.getLen).toInt)
      try in.readFully(0, head) finally in.close()
      val count = GeomedeaFile.header(head, s.getLen)._3
      GeomedeaManifest.entryOf(s.getPath.getName, s.getLen, count,
        fileExtent(head).getOrElse(Envelope.empty))
    }

    def countKnown(count: Long): Boolean = true

    val headerStats: Set[HeaderStat] = Set(HeaderStat.CountRows, HeaderStat.MinLng,
      HeaderStat.MinLat, HeaderStat.MaxLng, HeaderStat.MaxLat)

    /** The writers key each leaf on `f.geom.envelope`, the value the
      * reader derives the envelope columns from.
      */
    def exactIndex: Boolean = true

    def indexCount(fs: FileSystem, path: Path, len: Long, q: Envelope): Long = {
      val in = fs.open(path)
      try GeomedeaFile.countBboxRange(rangeReader(in), len, q) finally in.close()
    }

    def metrics: Array[CustomMetric] = Array(new GmPagesMetric, new GmBytesMetric, new GmRowsMetric)

    // both shapes stream with bounded memory and bounded transfer —
    // nothing ever materializes a whole file, so shard size is
    // unconstrained on the read side
    protected def read(in: FSDataInputStream, part: GeomedeaPartition, bbox: Option[Envelope],
                       geomOnly: Boolean): (Iterator[(Loc, Feature)], () => (Long, Long)) =
      bbox match {
        case Some(q) =>
          // bounded TRANSFER bbox read (the reference's partial-download
          // path, http_reader.rs:86-107): positioned range reads walk
          // header -> needed index levels (range-merged) -> hit pages
          // (batched windows); pruned pages and index subtrees never
          // leave storage
          val scan = GeomedeaFile.selectBboxRange(rangeReader(in), part.len, q)
          (scan, () => (scan.pagesDecoded, scan.bytesTransferred))
        case None =>
          // positioned header read for the compressed flag and the data
          // section start, then one page-by-page forward stream
          val head = new Array[Byte](FeatureCodec.HeaderBytes)
          in.readFully(0, head)
          val (compressed, _, featureCount) = GeomedeaFile.header(head, part.len)
          val dataStart = GeomedeaFile.dataStart(featureCount)
          val (start, end) = streamRange(part, dataStart, part.len)
          in.seek(start)
          var pages = 0L
          var bytes = 0L
          (GeomedeaFile.selectPageRange(in, compressed, start, end, dataStart,
            onPage = b => { pages += 1; bytes += b }, geomOnly = geomOnly), () => (pages, bytes))
      }

    def spool(options: CaseInsensitiveStringMap, splitGranularity: Long): () => FeatureSpool = {
      val compressed = options.getBoolean("compressed", true)
      // page size goal knob, like the reference's WriterOptions
      // (writer/mod.rs:24-27); default 64 KiB (lib.rs:47)
      val pageSizeGoal = options.getLong("pageSizeGoal", GeomedeaFile.DefaultPageSizeGoal)
      require(pageSizeGoal > 0, s"pageSizeGoal must be positive; got $pageSizeGoal")
      () => new ShardSpool(compressed, pageSizeGoal, splitGranularity)
    }

    def compressionOptions(compressed: Boolean): Map[String, String] =
      Map("compressed" -> compressed.toString)
  }

  /** FlatGeobuf: magic, flatbuffers header, optional packed R-tree,
    * size-prefixed feature blocks.
    */
  case object FlatGeobuf extends ContainerFormat("flatgeobuf", ".fgb",
    StructField("feature_offset", LongType, nullable = false)) {

    /** The feature's byte offset within the features section. */
    type Loc = Long

    def locationColumns: PartialFunction[String, Loc => Any] = {
      case "feature_offset" => off => off
    }

    /** Header via two positioned range reads (12 bytes + header block).
      * FGB headers carry the envelope in DEGREES (f64); rounding to scaled
      * ints goes OUTWARD (floor min, ceil max, clamped) so the extent stays
      * a superset and pruning on it can never drop a hit. A header with no
      * envelope but a nonzero count maps to the world extent —
      * count>0-with-unknown-extent must never be pruned. features_count 0
      * (spec: UNKNOWN) stores the empty envelope (extent None), which
      * [[mayIntersect]] keeps.
      */
    def headerEntry(fs: FileSystem, s: FileStatus): GeomedeaManifest.Entry = {
      require(s.getLen >= Fgb.Magic.length + 4,
        s"${s.getPath}: ${s.getLen} bytes is shorter than a FlatGeobuf magic+header " +
          "prefix — truncated or not an fgb file")
      val in = fs.open(s.getPath)
      val h = try Fgb.readHeaderRanged(rangeReader(in), s.getLen) finally in.close()
      def lo(d: Double) = math.max(Int.MinValue.toDouble, math.floor(d * 1e7)).toInt
      def hi(d: Double) = math.min(Int.MaxValue.toDouble, math.ceil(d * 1e7)).toInt
      val ext = h.envelope match {
        // non-finite doubles (NaN/Inf from a foreign writer) would cast to
        // 0 and FORGE a point extent at the origin — wrong pruning. An
        // unusable envelope means unknown, and unknown means world.
        case Some((mnx, mny, mxx, mxy))
          if Seq(mnx, mny, mxx, mxy).forall(java.lang.Double.isFinite) =>
          Envelope(lo(mnx), lo(mny), hi(mxx), hi(mxy))
        case _ if h.featuresCount > 0 =>
          Envelope(Int.MinValue, Int.MinValue, Int.MaxValue, Int.MaxValue)
        case _ => Envelope.empty
      }
      GeomedeaManifest.entryOf(s.getPath.getName, s.getLen, h.featuresCount, ext)
    }

    def countKnown(count: Long): Boolean = count > 0

    /** COUNT(*) only: the header envelope is degree doubles,
      * outward-rounded against the scaled-int columns, and spec-legal
      * foreign writers may store loose bounds — a pushed min/max could be
      * wrong by a unit.
      */
    val headerStats: Set[HeaderStat] = Set(HeaderStat.CountRows)

    /** Index nodes hold degree doubles, and foreign writers may store
      * loose bounds or no index at all.
      */
    def exactIndex: Boolean = false

    def indexCount(fs: FileSystem, path: Path, len: Long, q: Envelope): Long =
      throw new UnsupportedOperationException(s"$name index bounds are not exact")

    def metrics: Array[CustomMetric] = Array(new GmBytesMetric, new GmRowsMetric)

    protected def read(in: FSDataInputStream, part: GeomedeaPartition, bbox: Option[Envelope],
                       geomOnly: Boolean): (Iterator[(Loc, Feature)], () => (Long, Long)) = {
      val header = Fgb.readHeaderRanged(rangeReader(in), part.len)
      // an index needs BOTH node_size > 0 and a trustworthy count (0 =
      // unknown, spec-legal for streamed writers); otherwise stream the
      // whole file — Spark re-applies the residual filters either way
      bbox.filter(_ => header.nodeSize > 0 && header.featuresCount > 0) match {
        case Some(q) =>
          // bounded transfer: the header read above -> needed index
          // levels -> hit blocks
          val scan = new Fgb.RangedFgbScan(rangeReader(in), part.len, header, q,
            GeomedeaFile.PageBatchBytes)
          (scan, () => (0L, scan.bytesTransferred))
        case None =>
          val (start, end) = streamRange(part, header.featuresOffset, part.len)
          in.seek(start)
          var bytes = 0L
          (Fgb.selectRangeStream(in, header, start, end, onBlock = b => bytes += b,
            geomOnly = geomOnly), () => (0L, bytes))
      }
    }

    def spool(options: CaseInsensitiveStringMap, splitGranularity: Long): () => FeatureSpool = {
      val nodeSize = options.getInt("indexNodeSize", Fgb.DefaultNodeSize)
      // upper bound matters: the header field is a u16, so 65536 would
      // wrap to 0 ("no index") while index bytes are still written —
      // readers would parse R-tree bytes as feature blocks
      require(nodeSize >= 2 && nodeSize <= 0xFFFF,
        s"indexNodeSize must be in [2, 65535]; got $nodeSize")
      () => new Fgb.FgbSpool(nodeSize = nodeSize, splitGranularity = splitGranularity)
    }

    // FGB blocks are never compressed
    def compressionOptions(compressed: Boolean): Map[String, String] = Map.empty
  }
}
