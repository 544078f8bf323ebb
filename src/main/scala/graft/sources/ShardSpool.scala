package graft.sources

import graft.codec.FeatureCodec
import graft.codec.FeatureCodec.Feature
import graft.curve.Hilbert
import graft.geom.Envelope
import graft.index.PackedRTree

import java.io.{BufferedOutputStream, OutputStream, RandomAccessFile}
import java.nio.file.{Files, Path}

/** Spill-backed single-shard container writer: O(index + one page) heap.
  *
  * [[GeomedeaFile.writeFull]] materializes every `Feature` and the whole
  * output array — fine for driver-side interop twins, but an executor
  * task writing a shard at 100 TB scale should never hold the shard.
  * The spool:
  *
  *  1. encodes each feature to its bincode bytes ON ARRIVAL (the
  *     feature codec is extent-independent — only the layout ORDER and
  *     the header depend on the extent) and appends them to a local
  *     temp file, keeping just the envelope + offset + length in
  *     primitive arrays (~20 bytes/feature — the same O(n) the packed
  *     R-tree index itself needs, vs. the materialized geometry
  *     vectors + props maps + a second full serialized copy that
  *     `writeFull` holds);
  *  2. at [[commit]], computes the extent, sorts an index permutation
  *     into the Hilbert-DESCENDING layout order (stable, so the output
  *     is byte-identical to `writeFull` for the same features in the
  *     same arrival order — asserted in ShardSpoolSpec), re-reads the
  *     spool in layout order, assembles/compresses pages into a second
  *     temp file via the shared [[GeomedeaFile.assemblePages]] core,
  *     then streams header ++ index ++ pages to the destination.
  *
  * The layout-order re-read is random-access against a local file that
  * is at most the shard's encoded size — page-cache resident for any
  * sane shard. Both temp files are deleted on commit or [[delete]].
  *
  * Reference: `writer/mod.rs:68-140` (format), `writer/mod.rs:77-82`
  * (Hilbert-desc layout) — reproduced streaming, not buffered.
  */
object ShardSpool {
  /** Default intra-shard split granularity (encoded bytes between
    * sampled page boundaries): 64 MiB — small enough that a 256 MB
    * shard full-scans 4-way, large enough that split bookkeeping stays
    * a handful of longs per shard in the manifest.
    */
  val DefaultSplitGranularity: Long = 64L << 20

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

/** A spill-backed single-shard writer, as the DSv2 container writer
  * drives it: features in, one container file out at [[commit]].
  */
trait FeatureSpool {
  def add(f: Feature): Unit
  def commit(open: Long => OutputStream): FeatureSpool.Written
  def delete(): Unit
}

object FeatureSpool {
  /** What a commit wrote: the manifest entry's extent, count, byte
    * length and intra-shard split boundaries.
    */
  trait Written {
    def extent: Envelope
    def featureCount: Long
    def totalBytes: Long
    def splits: Vector[Long]
  }
}

final class ShardSpool(compressed: Boolean,
                       pageSizeGoal: Long = GeomedeaFile.DefaultPageSizeGoal,
                       splitGranularity: Long = ShardSpool.DefaultSplitGranularity)
    extends FeatureSpool {

  /** `splits`: absolute page-boundary offsets sampled every
    * ~`splitGranularity` encoded bytes (first = data-section start),
    * published to the lake manifest so the full-scan planner can read
    * one oversized shard as several input partitions. Empty when the
    * shard has fewer than two boundaries at the granularity.
    */
  final case class SpoolWritten(extent: Envelope, pageCount: Long,
                                featureCount: Long, totalBytes: Long,
                                splits: Vector[Long] = Vector.empty)
      extends FeatureSpool.Written

  private val spoolPath: Path =
    Files.createTempFile(ShardSpool.spillDir(), "graft-spool", ".feat")
  private var spoolOut: OutputStream =
    new BufferedOutputStream(Files.newOutputStream(spoolPath), 1 << 16)
  private val minLng = new scala.collection.mutable.ArrayBuilder.ofInt
  private val minLat = new scala.collection.mutable.ArrayBuilder.ofInt
  private val maxLng = new scala.collection.mutable.ArrayBuilder.ofInt
  private val maxLat = new scala.collection.mutable.ArrayBuilder.ofInt
  private val lens = new scala.collection.mutable.ArrayBuilder.ofInt
  private var n = 0
  private var tail = 0L
  private var done = false

  def add(f: Feature): Unit = add(FeatureCodec.encodeFeature(f), f.geom.envelope)

  def add(encoded: Array[Byte], env: Envelope): Unit = {
    require(!done, "spool already committed/deleted")
    spoolOut.write(encoded)
    minLng += env.minLng; minLat += env.minLat
    maxLng += env.maxLng; maxLat += env.maxLat
    lens += encoded.length
    tail += encoded.length
    n += 1
  }

  def count: Int = n

  /** Assemble and stream the container. `open` receives the exact final
    * byte count (known before any destination I/O) and returns the sink
    * — the caller can enforce size guards and pick the path without the
    * spool ever holding the container. The sink is closed here.
    */
  def commit(open: Long => OutputStream): SpoolWritten = {
    require(!done, "spool already committed/deleted")
    done = true
    spoolOut.close()
    val mnLng = minLng.result(); val mnLat = minLat.result()
    val mxLng = maxLng.result(); val mxLat = maxLat.result()
    val len = lens.result()
    def envOf(i: Int): Envelope = Envelope(mnLng(i), mnLat(i), mxLng(i), mxLat(i))

    var extent = Envelope.empty
    var i = 0
    while (i < n) { extent = extent.union(envOf(i)); i += 1 }
    val keys = new Array[Long](n)
    i = 0
    while (i < n) {
      val e = envOf(i)
      keys(i) = Hilbert.scaled(e.centerLng, e.centerLat, extent)
      i += 1
    }
    val offs = new Array[Long](n)
    i = 1
    while (i < n) { offs(i) = offs(i - 1) + len(i - 1); i += 1 }
    // Hilbert DESC, ties by arrival order == writeFull's stable sortBy
    val order = Array.tabulate[Integer](n)(Integer.valueOf)
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => {
      val c = java.lang.Long.compare(keys(b.intValue), keys(a.intValue))
      if (c != 0) c else Integer.compare(a.intValue, b.intValue)
    })

    val pagePath = Files.createTempFile(ShardSpool.spillDir(), "graft-spool", ".pages")
    try {
      val raf = new RandomAccessFile(spoolPath.toFile, "r")
      val asm =
        try {
          val pagesOut = new BufferedOutputStream(Files.newOutputStream(pagePath), 1 << 16)
          try GeomedeaFile.assemblePages(
            order.iterator.map { j =>
              val buf = new Array[Byte](len(j.intValue))
              raf.seek(offs(j.intValue)); raf.readFully(buf)
              (buf, envOf(j.intValue))
            },
            compressed, pageSizeGoal, pagesOut)
          finally pagesOut.close()
        } finally raf.close()
      val tree = PackedRTree.build(asm.leaves)
      val total = FeatureCodec.HeaderBytes.toLong + tree.length + asm.pageBytes
      val dataStart = FeatureCodec.HeaderBytes.toLong + tree.length
      // sample page boundaries every ~splitGranularity encoded bytes;
      // leaves walk the layout order, so page starts arrive ascending
      val splitsB = Vector.newBuilder[Long]
      splitsB += dataStart
      var lastRel = 0L
      var sampled = 1
      asm.leaves.foreach { case (_, pageRel, featOff) =>
        if (featOff == 0 && pageRel > 0 && pageRel - lastRel >= splitGranularity) {
          splitsB += dataStart + pageRel
          lastRel = pageRel
          sampled += 1
        }
      }
      val splits = if (sampled >= 2) splitsB.result() else Vector.empty[Long]
      val out = open(total)
      try {
        out.write(FeatureCodec.encodeHeader(compressed, asm.pageCount, n.toLong))
        out.write(tree)
        Files.copy(pagePath, out)
      } finally out.close()
      SpoolWritten(extent, asm.pageCount, n.toLong, total, splits)
    } finally {
      Files.deleteIfExists(pagePath)
      Files.deleteIfExists(spoolPath)
      ()
    }
  }

  /** Abort: drop the spool and its temp file. Safe to call twice. */
  def delete(): Unit = {
    if (!done) { done = true; try spoolOut.close() catch { case _: Exception => () } }
    Files.deleteIfExists(spoolPath)
    ()
  }
}
