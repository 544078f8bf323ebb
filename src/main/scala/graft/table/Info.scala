package graft.table

import graft.jobs.Ingest
import org.apache.spark.sql.SparkSession

/** `info` CLI (S11 — the analog of `geomedea/src/bin/info.rs`): print an
  * ingested table's header-style summary, per-file layout, and manifest
  * snapshot history.
  *
  *   sbt "runMain graft.table.Info /path/to/table"
  */
object Info {
  def render(spark: SparkSession, tableDir: String): String = {
    val sb = new StringBuilder
    val s = Describe.summary(spark, tableDir).head()
    sb.append(s"table: $tableDir\n")
    // a zero-doc ingest publishes an EMPTY lineage snapshot: the sums and
    // mins above come back SQL NULL and the primitive getters would NPE —
    // same guard LakeHealth.parquetTable applies
    if (s.isNullAt(0)) {
      sb.append("doc_count: 0  file_count: 0\n")
      sb.append("hilbert: -\nextent: EMPTY\n")
    } else {
      sb.append(s"doc_count: ${s.getLong(0)}  file_count: ${s.getLong(1)}\n")
      sb.append(s"hilbert: ${s.getLong(2)}..${s.getLong(3)}\n")
      sb.append(s"extent: RECT(${s.getInt(4)} ${s.getInt(5)},${s.getInt(6)} ${s.getInt(7)})\n")
    }
    sb.append(s"snapshots: ${Ingest.snapshots(spark, tableDir).mkString(", ")}\n")
    sb.append("layout (hilbert-desc):\n")
    Describe.layout(spark, tableDir).collect().foreach { r =>
      sb.append(s"  rows=${r.getAs[Long]("rows")} hilbert=[${r.getAs[Long]("min_hilbert")}..${r.getAs[Long]("max_hilbert")}]" +
        s" span=${r.getAs[Long]("hilbert_span")} checksum=${r.getAs[Long]("checksum")}\n")
    }
    // the same lake-health block container lakes print (LakeHealth) so
    // the three layouts read identically for an operator
    sb.append(LakeHealth.render(tableDir, LakeHealth.parquetTable(spark, tableDir)))
    sb.toString
  }

  /** `info` for a single `.fgb` container (no Spark needed). Header-only
    * positioned reads — a 9 GB container costs the same as a 9 KB one.
    */
  def renderFgb(path: String): String = {
    val raf = new java.io.RandomAccessFile(path, "r")
    val h =
      try graft.sources.FlatGeobuf.readHeaderRanged((off, k) => {
        val b = new Array[Byte](k); raf.seek(off); raf.readFully(b); b
      }, raf.length())
      finally raf.close()
    val env = h.envelope.map { case (a, b, c, d) => s"RECT($a $b,$c $d)" }.getOrElse("EMPTY")
    s"""fgb: $path
       |name: ${h.name}  features: ${h.featuresCount}  geometry_type: ${h.geometryType}
       |extent: $env
       |index: ${if (h.nodeSize == 0) "none" else s"packed R-tree, node_size ${h.nodeSize}"}
       |columns: ${h.colNames.zip(h.colTypes).map { case (n, t) => s"$n:$t" }.mkString(", ")}
       |""".stripMargin
  }

  /** `info` for a shard LAKE (a directory of one
    * [[graft.sources.v2.ContainerFormat]]'s containers): shard/byte totals, manifest health (present + valid =
    * one-read planning; stale = header-read fallback), and whether a
    * crashed compaction swap is pending — the three things an operator
    * checks before/after maintenance. Driver-side listing + one manifest
    * read; no shard data is touched.
    */
  def renderLake(spark: SparkSession, dir: String, suffix: String): String =
    LakeHealth.render(dir, LakeHealth.containerLake(spark, dir, suffix))

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.table.Info <tableDir | file.fgb>")
    if (args(0).endsWith(graft.sources.v2.ContainerFormat.FlatGeobuf.suffix)) {
      print(renderFgb(args(0))); return
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // container-lake dirs get the lake summary; parquet tables the
    // ingest summary
    val p = new org.apache.hadoop.fs.Path(args(0))
    LakeHealth.lakeFormat(p.getFileSystem(spark.sessionState.newHadoopConf()), p) match {
      case Some(f) => print(renderLake(spark, args(0), f.suffix))
      case None    => print(render(spark, args(0)))
    }
    spark.stop()
  }
}
