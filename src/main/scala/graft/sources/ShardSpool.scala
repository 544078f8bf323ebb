package graft.sources

import graft.codec.FeatureCodec
import graft.geom.Envelope
import graft.index.PackedRTree

import java.io.OutputStream

/** The geomedea [[FeatureSpool]]: Hilbert-DESCENDING layout, pages
  * assembled and compressed by the shared [[GeomedeaFile.assemblePages]]
  * core, prefix = header ++ packed R-tree, splits at page starts.
  * Byte-identical to [[GeomedeaFile.writeFull]] for the same features in
  * the same arrival order.
  */
final class ShardSpool(compressed: Boolean,
                       pageSizeGoal: Long = GeomedeaFile.DefaultPageSizeGoal,
                       splitGranularity: Long = FeatureSpool.DefaultSplitGranularity)
    extends FeatureSpool(descending = true, splitGranularity) {

  protected def layOut(order: Array[Int], ordered: Iterator[(Array[Byte], Envelope)],
                       extent: Envelope, body: OutputStream): FeatureSpool.Layout = {
    val asm = GeomedeaFile.assemblePages(ordered, compressed, pageSizeGoal, body)
    FeatureSpool.Layout(
      FeatureCodec.encodeHeader(compressed, asm.pageCount, order.length.toLong) ++
        PackedRTree.build(asm.leaves),
      asm.leaves.iterator.collect { case (_, pageStart, 0) => pageStart })
  }
}
