package graft.sources

import graft.codec.FeatureCodec.Feature
import graft.sources.GeoJsonIngest.PropCell
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.v2.ContainerWriterFactory.MaxFileBytes

/** Spark <-> FlatGeobuf bridge, shaped exactly like [[GeomedeaSpark]] —
  * the reference's bridge replays features into ANY geozero format and
  * its README compares FGB head-to-head (`README.md` "Benefits"), so a
  * reference user's `.fgb` extracts flow through this engine the same
  * way their `.geomedea` files do.
  *
  * The container is a single-node format; [[read]]/[[write]] are the
  * driver-side interop twins (bounded by the v2 writer's shard cap,
  * [[v2.ContainerWriterFactory.MaxFileBytes]]). A directory of `.fgb`
  * files reads distributed, with per-file bbox pruning via the embedded
  * packed R-tree, through `spark.read.format("flatgeobuf").load(dir)`.
  */
object FlatGeobufSpark {

  /** .fgb file -> the engine's geometry frame, in file (Hilbert asc)
    * order; feature_id is the layout-order index.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    require(bytes.length <= MaxFileBytes, s"${bytes.length} bytes > $MaxFileBytes")
    val rows = FlatGeobuf.selectAll(bytes).zipWithIndex.map { case (f, i) =>
      GeoJsonIngest.FeatRow(i.toLong, graft.geom.Wkb.write(f.geom),
        f.props.map { case (k, v) => GeoJsonIngest.toCell(k, v) },
        f.props.map(_._1),
        f.props.map { case (_, v) => GeoJson.propValueString(v) })
    }
    GeoJsonIngest.withEnvelope(rows.toDF())
  }

  /** Geometry frame (wkb + props) -> .fgb file on disk (Hilbert-asc
    * layout + packed R-tree index applied by the writer).
    */
  def write(df: DataFrame, path: String,
            nodeSize: Int = FlatGeobuf.DefaultNodeSize): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val feats = df.select(col("wkb"), col("props"))
      .as[(Array[Byte], Seq[PropCell])]
      .collect()
      .map { case (wkb, cells) =>
        Feature(graft.geom.Wkb.read(wkb), cells.map(GeoJsonIngest.fromCell).toVector)
      }
    val bytes = FlatGeobuf.write(feats.toSeq, nodeSize = nodeSize)
    require(bytes.length <= MaxFileBytes, s"${bytes.length} bytes > $MaxFileBytes")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
  }
}
