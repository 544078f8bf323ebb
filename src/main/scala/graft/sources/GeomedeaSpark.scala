package graft.sources

import graft.codec.FeatureCodec.Feature
import graft.sources.GeoJsonIngest.PropCell
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.v2.ContainerWriterFactory.MaxFileBytes

/** Spark <-> single-file container bridge: lets a reference user's
  * existing `.geomedea` files flow through the engine (S8/S9 for the
  * native format, alongside the GeoJSON bridge).
  *
  * The container is a single-node format (one header + one index +
  * sequential pages), so [[read]] decodes on the driver and
  * parallelizes rows, and [[write]] collects — both bounded by the v2
  * writer's shard cap ([[v2.ContainerWriterFactory.MaxFileBytes]]). A
  * directory of `.geomedea` files reads distributed, with per-file index
  * pruning, through `spark.read.format("geomedea").load(dir)`. The
  * 100 TB path is `Ingest.write`'s parquet layout; this bridge is for
  * interop at the reference's own file sizes (its published fixtures are
  * 5-13 MB).
  */
object GeomedeaSpark {

  /** .geomedea file -> the engine's geometry frame (wkb + typed props +
    * envelope stat columns), in the file's Hilbert layout order.
    * feature_id is the layout-order index (a full scan sees every
    * feature, so the index is a stable id here; the DSv2 source emits the
    * format's FeatureLocation instead, stable under pruning too).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    require(bytes.length <= MaxFileBytes, s"${bytes.length} bytes > $MaxFileBytes")
    val rows = GeomedeaFile.selectAll(bytes).zipWithIndex.map { case (f, i) =>
      GeoJsonIngest.FeatRow(i.toLong, graft.geom.Wkb.write(f.geom),
        f.props.map { case (k, v) => GeoJsonIngest.toCell(k, v) },
        f.props.map(_._1),
        f.props.map { case (_, v) => GeoJson.propValueString(v) })
    }
    GeoJsonIngest.withEnvelope(rows.toDF())
  }

  /** Geometry frame (wkb + props) -> .geomedea file bytes on disk. The
    * writer applies the format's own Hilbert-desc layout; input order is
    * irrelevant.
    */
  def write(df: DataFrame, path: String, compressed: Boolean,
            pageSizeGoal: Long = GeomedeaFile.DefaultPageSizeGoal): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val feats = df.select(col("wkb"), col("props"))
      .as[(Array[Byte], Seq[PropCell])]
      .collect()
      .map { case (wkb, cells) =>
        Feature(graft.geom.Wkb.read(wkb), cells.map(GeoJsonIngest.fromCell).toVector)
      }
    val bytes = GeomedeaFile.write(feats.toSeq, compressed, pageSizeGoal)
    require(bytes.length <= MaxFileBytes, s"${bytes.length} bytes > $MaxFileBytes")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
  }
}
