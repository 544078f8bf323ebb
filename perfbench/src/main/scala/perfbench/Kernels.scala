package perfbench

import graft.codec.FeatureCodec
import graft.curve.{Cells, Hilbert}
import graft.expr.Adapters
import graft.geom.{Envelope, PointInPolygon, Wkb}
import graft.index.PackedRTree
import graft.jobs.SpatialJoin
import graft.table.InterleavedDocs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** Single-threaded timings of the engine's per-row kernels, called
  * directly through their public functions on the run's own seeded
  * points. Each is the median of several passes, in ns per call.
  */
object Kernels {
  private var sink = 0L

  /** Seeded doc points each kernel runs over. */
  val KernelPoints = 20000
  /** Timed passes per kernel; the median pass is reported. */
  val Passes = 5

  private def nsPer(calls: Int)(pass: => Long): Double = {
    pass // warm
    Stats.median((0 until Passes).map { _ =>
      val t0 = System.nanoTime()
      sink += pass
      (System.nanoTime() - t0).toDouble / calls
    })
  }

  /** Doc points of ids [base, base + n), through the table's own
    * `InterleavedDocs.lngOf/latOf`.
    */
  def points(spark: SparkSession, base: Long, n: Int): (Array[Int], Array[Int]) = {
    val rows = spark.range(base, base + n, 1, 1)
      .select(InterleavedDocs.lngOf(col("id")), InterleavedDocs.latOf(col("id")))
      .collect()
    (rows.map(_.getLong(0).toInt), rows.map(_.getLong(1).toInt))
  }

  def measure(spark: SparkSession, base: Long, counties: IndexedSeq[(Envelope, Array[Byte])],
              windows: IndexedSeq[Envelope]): Map[String, Double] = {
    val n = KernelPoints
    val (lng, lat) = points(spark, base, n)
    val wkbs = Array.tabulate(n)(i => Wkb.pointWkb(lng(i), lat(i)))
    val hex = wkbs.map(w => UTF8String.fromString(w.map("%02X".format(_)).mkString))
    val empty = UTF8String.fromString("")
    val spans = Array.tabulate(n) { i =>
      new GenericArrayData(Array[Any](
        new GenericInternalRow(Array[Any](UTF8String.fromString("text"), UTF8String.fromString(s"doc $i"), empty, 0)),
        new GenericInternalRow(Array[Any](UTF8String.fromString("media"), empty, UTF8String.fromString(s"media://x/$i"), 1)),
        new GenericInternalRow(Array[Any](UTF8String.fromString("geom"), empty, hex(i), 2))))
    }
    val world = Gen.World
    val feats = Array.tabulate(n)(i => FeatureCodec.Feature(Wkb.read(wkbs(i)),
      Vector("doc" -> FeatureCodec.PString(f"doc-${base + i}%09d"))))
    val encoded = feats.map(FeatureCodec.encodeFeature)
    val leaves = (0 until n).map(i => (Envelope(lng(i), lat(i), lng(i), lat(i)), i.toLong,
      Hilbert.scaled(lng(i), lat(i), world))).sortBy(-_._3).map { case (e, id, _) => (e, id, 0) }
    val (buildS, tree) = Harness.time(PackedRTree.build(leaves))
    val rtree = new PackedRTree(n.toLong, tree)

    Map(
      "expr.span_feature_ns_per_row" -> nsPer(n) {
        var a = 0L; var i = 0
        while (i < n) { if (Adapters.spanFeature(spans(i)) != null) a += 1; i += 1 }; a
      },
      "curve.hilbert_ns" -> nsPer(n) {
        var a = 0L; var i = 0
        while (i < n) { a += Hilbert.scaled(lng(i), lat(i), world); i += 1 }; a
      },
      "curve.cell_id_ns" -> nsPer(n) {
        var a = 0L; var i = 0
        while (i < n) { a += Cells.cellId(lng(i), lat(i), SpatialJoin.DefaultRes); i += 1 }; a
      },
      "curve.cover_ns_per_poly" -> nsPer(counties.size) {
        var a = 0L
        counties.foreach { case (e, _) => a += Cells.cover(e, SpatialJoin.DefaultRes).length }; a
      },
      "geom.pip_ns_per_test" -> nsPer(n) {
        var a = 0L; var i = 0
        while (i < n) {
          if (PointInPolygon.containsWkb(counties(i % counties.size)._2, lng(i), lat(i))) a += 1
          i += 1
        }; a
      },
      "codec.encode_ns_per_feature" -> nsPer(n) {
        var a = 0L; var i = 0
        while (i < n) { a += FeatureCodec.encodeFeature(feats(i)).length; i += 1 }; a
      },
      "codec.decode_ns_per_feature" -> nsPer(n) {
        var a = 0L; var i = 0
        while (i < n) { a += FeatureCodec.decodeFeature(encoded(i)).props.size; i += 1 }; a
      },
      "index.rtree_build_ms" -> {
        Stats.median((0 until 3).map(_ => Harness.time(PackedRTree.build(leaves))._1 * 1e3) :+ buildS * 1e3)
      },
      "index.rtree_query_ns" -> nsPer(windows.size) {
        var a = 0L
        windows.foreach(w => a += rtree.queryBbox(w).length); a
      })
  }
}
