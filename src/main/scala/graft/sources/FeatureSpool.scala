package graft.sources

import graft.codec.FeatureCodec
import graft.codec.FeatureCodec.Feature
import graft.curve.Hilbert
import graft.geom.Envelope

import java.io.{BufferedOutputStream, OutputStream, RandomAccessFile}
import java.nio.file.{Files, Path}

/** Spill-backed single-shard container writer, as the DSv2 container
  * writer drives it: features in, one container file out at [[commit]],
  * in O(index + one page or block) heap.
  *
  * The in-memory `writeFull`s materialize every `Feature` and the whole
  * output array — fine for driver-side interop twins, but an executor
  * task writing a shard at 100 TB scale should never hold the shard.
  * Both container formats share one writer algorithm (a Hilbert layout
  * sort, then pages or blocks, then a packed R-tree, then the header),
  * and this core owns all of it but the bytes:
  *
  *  1. [[add]] encodes each feature to its bincode bytes ON ARRIVAL (the
  *     feature codec is extent-independent — only the layout ORDER and
  *     the header depend on the extent), appends them to a local spill
  *     file and keeps just the envelope and length in primitive arrays
  *     (~20 bytes/feature — the same O(n) the packed R-tree itself
  *     needs);
  *  2. [[commit]] computes the extent and the Hilbert keys, sorts the
  *     layout permutation (ties in arrival order, so the output is
  *     byte-identical to the format's stable-sorting `writeFull` for the
  *     same features in the same arrival order — asserted in
  *     PropertiesSpec), re-reads the spill in layout order through the
  *     format's [[layOut]] into a body temp file, samples the split
  *     boundaries, then streams prefix ++ body to the destination.
  *
  * Each format supplies its layout direction, an optional per-feature
  * [[note]], and [[layOut]]: the body encoder, which also returns the
  * prefix (header and index) and the body offsets a split may start at.
  * The layout-order re-read is random-access against a local file that
  * is at most the shard's encoded size — page-cache resident for any
  * sane shard. Both temp files are deleted on every exit path.
  *
  * Reference: `writer/mod.rs:68-140` (format), `writer/mod.rs:77-82`
  * (Hilbert layout) — reproduced streaming, not buffered.
  */
abstract class FeatureSpool(descending: Boolean, splitGranularity: Long) {
  import FeatureSpool._

  private val spillPath: Path = Files.createTempFile(spillDir(), "graft-spool", ".feat")
  private val spillOut: OutputStream =
    new BufferedOutputStream(Files.newOutputStream(spillPath), 1 << 16)
  private val minLng = new scala.collection.mutable.ArrayBuilder.ofInt
  private val minLat = new scala.collection.mutable.ArrayBuilder.ofInt
  private val maxLng = new scala.collection.mutable.ArrayBuilder.ofInt
  private val maxLat = new scala.collection.mutable.ArrayBuilder.ofInt
  private val lens = new scala.collection.mutable.ArrayBuilder.ofInt
  private var n = 0
  private var done = false

  /** Records what the format needs of `f` beyond its encoding and
    * envelope, once per feature in arrival order.
    */
  protected def note(f: Feature): Unit = ()

  /** Writes the body of the features in layout order to `body`. `order`
    * holds their arrival indices and `ordered` their encodings and
    * envelopes, both in layout order. Returns the prefix and the
    * body-relative offsets, ascending, at which a split may start.
    */
  protected def layOut(order: Array[Int], ordered: Iterator[(Array[Byte], Envelope)],
                       extent: Envelope, body: OutputStream): Layout

  final def add(f: Feature): Unit = {
    require(!done, "spool already committed/deleted")
    val encoded = FeatureCodec.encodeFeature(f)
    spillOut.write(encoded)
    val env = f.geom.envelope
    minLng += env.minLng; minLat += env.minLat
    maxLng += env.maxLng; maxLat += env.maxLat
    lens += encoded.length
    note(f)
    n += 1
  }

  /** Assemble and stream the container. `open` receives the exact final
    * byte count (known before any destination I/O) and returns the sink
    * — the caller can enforce size guards and pick the path without the
    * spool ever holding the container. The sink is closed here.
    */
  final def commit(open: Long => OutputStream): Written = {
    require(!done, "spool already committed/deleted")
    done = true
    try {
      spillOut.close()
      val mnLng = minLng.result(); val mnLat = minLat.result()
      val mxLng = maxLng.result(); val mxLat = maxLat.result()
      val len = lens.result()
      def envOf(i: Int): Envelope = Envelope(mnLng(i), mnLat(i), mxLng(i), mxLat(i))

      var extent = Envelope.empty
      var i = 0
      while (i < n) { extent = extent.union(envOf(i)); i += 1 }
      // one primitive sort: the 32-bit Hilbert key (complemented when
      // descending, sign bit flipped so signed order is unsigned order)
      // above the arrival index, so ties fall in arrival order
      val packed = new Array[Long](n)
      i = 0
      while (i < n) {
        val e = envOf(i)
        val key = Hilbert.scaled(e.centerLng, e.centerLat, extent)
        packed(i) = (((if (descending) ~key else key) << 32) ^ Long.MinValue) | i
        i += 1
      }
      java.util.Arrays.sort(packed)
      val order = packed.map(_.toInt)
      val offs = new Array[Long](n)
      i = 1
      while (i < n) { offs(i) = offs(i - 1) + len(i - 1); i += 1 }

      val bodyPath = Files.createTempFile(spillDir(), "graft-spool", ".body")
      try {
        val raf = new RandomAccessFile(spillPath.toFile, "r")
        val layout =
          try {
            val bodyOut = new BufferedOutputStream(Files.newOutputStream(bodyPath), 1 << 16)
            try layOut(order, order.iterator.map { j =>
              val buf = new Array[Byte](len(j))
              raf.seek(offs(j)); raf.readFully(buf)
              (buf, envOf(j))
            }, extent, bodyOut)
            finally bodyOut.close()
          } finally raf.close()
        val dataStart = layout.prefix.length.toLong
        val total = dataStart + Files.size(bodyPath)
        // sample boundaries every ~splitGranularity body bytes
        val splitsB = Vector.newBuilder[Long]
        splitsB += dataStart
        var lastRel = 0L
        var sampled = 1
        layout.boundaries.foreach { rel =>
          if (rel > 0 && rel - lastRel >= splitGranularity) {
            splitsB += dataStart + rel
            lastRel = rel
            sampled += 1
          }
        }
        val splits = if (sampled >= 2) splitsB.result() else Vector.empty[Long]
        val out = open(total)
        try {
          out.write(layout.prefix)
          Files.copy(bodyPath, out)
        } finally out.close()
        Written(extent, n.toLong, total, splits)
      } finally Files.deleteIfExists(bodyPath)
    } finally Files.deleteIfExists(spillPath)
  }

  /** Abort: drop the spool and its spill file. Safe to call twice. */
  final def delete(): Unit = {
    if (!done) { done = true; try spillOut.close() catch { case _: Exception => () } }
    Files.deleteIfExists(spillPath)
    ()
  }
}

object FeatureSpool {
  /** Default intra-shard split granularity (body bytes between sampled
    * boundaries): 64 MiB — small enough that a 256 MB shard full-scans
    * 4-way, large enough that split bookkeeping stays a handful of longs
    * per shard in the manifest.
    */
  val DefaultSplitGranularity: Long = 64L << 20

  /** What a commit wrote: the manifest entry's extent, count, byte
    * length and intra-shard split boundaries. `splits` are absolute
    * page or block starts sampled every ~`splitGranularity` body bytes
    * (first = body start), published to the lake manifest so the
    * full-scan planner can read one oversized shard as several input
    * partitions. Empty when the shard has fewer than two boundaries at
    * the granularity.
    */
  final case class Written(extent: Envelope, featureCount: Long, totalBytes: Long,
                           splits: Vector[Long])

  /** A format's laid-out shard: the bytes before the body, and the
    * body-relative offsets a split may start at.
    */
  final case class Layout(prefix: Array[Byte], boundaries: Iterator[Long])

  /** Executor-local spill directory: the disks provisioned for shuffle
    * spill — on a real cluster /tmp may be a tiny root volume. Resolved
    * in Spark's own precedence order (`Utils.getConfiguredLocalDirs`):
    * the cluster manager's env vars first (`LOCAL_DIRS` on YARN,
    * `SPARK_LOCAL_DIRS` elsewhere — these never appear in SparkConf, so
    * reading only `spark.local.dir` would silently spool to /tmp on
    * YARN/K8s executors), then `spark.local.dir`, then `java.io.tmpdir`.
    */
  private[sources] def spillDir(): Path = {
    val conf = Option(org.apache.spark.SparkEnv.get).map(_.conf)
    val dir = sys.env.get("LOCAL_DIRS") // YARN sets this per container
      .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
      .orElse(conf.flatMap(_.getOption("spark.local.dir")))
      .map(_.split(',').head.trim)
      .filter(_.nonEmpty)
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val p = java.nio.file.Paths.get(dir)
    Files.createDirectories(p)
    p
  }
}
