package graft.jobs

import graft.curve.Hilbert
import graft.expr.GraftFunctions._
import graft.geom.Envelope
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest = the reference's Writer pipeline (SURVEY.md §3.1) restated as
  * one sampled range layout and a zstd parquet write:
  *
  *  - extent + sample (the reference's buffer pass, `writer/mod.rs:54-65`):
  *    ONE Spark job observes the exact 4-way envelope min/max while it
  *    collects a capped hash sample of the envelope centers ([[layout]]);
  *  - Hilbert key relative to that extent (`writer/hilbert.rs:70-78`),
  *    range boundaries cut from the sample on the driver, rows placed by
  *    `repartitionById`, then `sortWithinPartitions` on the key
  *    **descending** — the reference sorts descending
  *    (`writer/mod.rs:77-82`, note the reversed comparator) and the golden
  *    ordering tests depend on it.
  *
  * The written layout is the distributed analog of the reference's
  * Hilbert-clustered pages: range partitions = pages, parquet row-group
  * stats = the packed R-tree's leaf bounds. A `_lineage` sidecar table
  * (one row per output partition: row count, hilbert min/max, envelope,
  * checksum) emulates the Iceberg manifest (no Iceberg jar in this
  * sandbox — documented emulation, see SURVEY.md §7.1) and provides
  * partition pruning + resumable re-runs.
  */
object Ingest {

  /** Dataset extent over the envelope stat columns. */
  def extent(docsGeo: DataFrame): Envelope = {
    val r = docsGeo.agg(
      min("min_lng"), min("min_lat"), max("max_lng"), max("max_lat")).head()
    if (r.isNullAt(0)) Envelope.empty
    else Envelope(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
  }

  /** Center of the per-row envelope on one axis, the same unsigned-half-width
    * arithmetic as bounds.rs:90-99 (exact for points: center == the point).
    */
  private def center(lo: String, hi: String): Column =
    (col(lo) + shiftright(col(hi).cast("long") - col(lo), 1)).cast("int")

  /** Add the Hilbert key of each doc's envelope center relative to the
    * dataset extent.
    */
  def withHilbert(docsGeo: DataFrame, ext: Envelope): DataFrame =
    docsGeo.withColumn("hilbert",
      gmHilbert(center("min_lng", "max_lng"), center("min_lat", "max_lat"),
        lit(ext.minLng), lit(ext.minLat), lit(ext.maxLng), lit(ext.maxLat)))

  /** One Spark job over `docs`: the exact dataset extent, observed on the
    * way, and the envelope centers of the `min(N, max(4096, 128·n))` rows
    * with the smallest `xxhash64(key, center)` ([[Knn.sample]]). The cap
    * holds whatever any size estimate says.
    */
  private[graft] def extentAndSample(docs: DataFrame, n: Int, key: Column)
  : (Envelope, Array[(Int, Int)]) = {
    val obs = Observation()
    val smp = Knn.sample(
      docs.observe(obs, min("min_lng").as("x0"), min("min_lat").as("y0"),
        max("max_lng").as("x1"), max("max_lat").as("y1")),
      math.max(Knn.SampleRows, 128 * n), key,
      center("min_lng", "max_lng"), center("min_lat", "max_lat"))
    val e = obs.get
    if (e("x0") == null) (Envelope.empty, smp)
    else (Envelope(e("x0").asInstanceOf[Int], e("y0").asInstanceOf[Int],
      e("x1").asInstanceOf[Int], e("y1").asInstanceOf[Int]), smp)
  }

  /** The Hilbert range layout shared by [[write]] and [[Compact]]: `docs`
    * plus its `hilbert` column, in `n` partitions of disjoint descending
    * Hilbert ranges — partition 0 holds the LARGEST keys, null keys go
    * last. Boundaries are the n-quantiles of the sampled keys, cut on the
    * driver; `repartitionById` places each row. A sample thinner than 4n
    * rows is every row, so its quantiles are exact. Rows are NOT sorted
    * within partitions: [[write]] sorts, container writers sort per shard.
    */
  private[jobs] def layout(docs: DataFrame, n: Int, key: Column): DataFrame = {
    val (ext, smp) = extentAndSample(docs, n, key)
    val hs = smp.map { case (x, y) => Hilbert.scaled(x, y, ext) }.sorted(Ordering[Long].reverse)
    val boundaries =
      if (hs.isEmpty) Array.empty[Long]
      else Array.tabulate(n - 1)(i => hs(((i + 1).toLong * hs.length / n).toInt))
    withHilbert(docs, ext)
      .withColumn("__bucket",
        coalesce(gmRangeBucketDesc(col("hilbert"), boundaries), lit(n - 1)))
      .repartitionById(n, col("__bucket"))
      .drop("__bucket")
  }

  /** Write the clustered table + a NEW `_lineage/v=N` manifest snapshot
    * (N strictly increasing — emulated Iceberg snapshot history: readers
    * pin a version, [[lineageAt]] time-travels, [[lineage]] reads the
    * latest; concurrent writers conflict only on the tiny snapshot dir
    * create, which the filesystem makes atomic). The docs dir itself is
    * last-writer-wins like a compaction rewrite. Returns the lineage DF.
    *
    * The parse lineage of `docsGeo` is scanned twice for the layout (the
    * extent+sample job, then the exchange's map side) and the output once
    * more for the lineage. The written layout contract: descending-
    * contiguous disjoint Hilbert ranges across files, descending order
    * within each file.
    */
  def write(docsGeo: DataFrame, outDir: String, numPartitions: Int,
            codec: String = "zstd"): DataFrame = {
    val spark = docsGeo.sparkSession
    layout(docsGeo, numPartitions, col("doc_id"))
      .sortWithinPartitions(col("hilbert").desc)
      .write.mode(SaveMode.Overwrite)
      .option("compression", codec)
      // zstd level 1, not the parquet default (3): measured 2.1x faster
      // encode for +2% file size on the interleaved table (90.3 s vs
      // 42.5 s for the same 2M-doc write) — at 100 TB the encode CPU is
      // the ingest bottleneck, the 2% transfer delta is noise
      .option("parquet.compression.codec.zstd.level", "1")
      // dictionary encoding OFF: the payload columns (doc_id, span text /
      // media_ref / hex-WKB) are near-unique per row, so parquet builds
      // per-column dictionaries that never bind and falls back — measured
      // 3.53 s -> 0.69 s for the isolated 2M-doc encode AND 2.6% smaller
      // files (dictionary pages are pure overhead on unique strings).
      // Row-group min/max stats (the bbox-pruned-scan path) are
      // dictionary-independent.
      .option("parquet.enable.dictionary", "false")
      .parquet(s"$outDir/docs")
    val lineage = spark.read.parquet(s"$outDir/docs")
      // explicit projection: the stats scan must never deserialize spans
      .select("doc_id", "hilbert", "min_lng", "min_lat", "max_lng", "max_lat")
      .groupBy(input_file_name().as("file"))
      .agg(
        count(lit(1)).as("rows"),
        min("hilbert").as("min_hilbert"), max("hilbert").as("max_hilbert"),
        min("min_lng").as("min_lng"), min("min_lat").as("min_lat"),
        max("max_lng").as("max_lng"), max("max_lat").as("max_lat"),
        expr("bit_xor(xxhash64(doc_id))").as("checksum"))
    // snapshot publish: write to a hidden temp dir, CLAIM a version with
    // create-no-overwrite on a lock file (atomic on HDFS's namenode and
    // on object stores with conditional put; Hadoop's rename is NOT a
    // safe claim — local/HDFS rename onto an existing dir silently moves
    // the source INSIDE it and reports success), then rename the tmp dir
    // to the claimed v=N, which no other writer can hold.
    val tmp = s"$outDir/_lineage/.tmp-${java.util.UUID.randomUUID()}"
    lineage.write.mode(SaveMode.ErrorIfExists).parquet(tmp)
    val lineagePath = new org.apache.hadoop.fs.Path(s"$outDir/_lineage")
    val fs = lineagePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var v = snapshots(spark, outDir).lastOption.getOrElse(0) + 1
    var claimed = false
    var attempts = 0
    while (!claimed) {
      attempts += 1
      require(attempts < 1000, s"could not claim a lineage snapshot version under $outDir")
      try {
        fs.create(new org.apache.hadoop.fs.Path(s"$outDir/_lineage/.lock-v=$v"),
          /* overwrite = */ false).close()
        claimed = true
      } catch {
        case _: java.io.IOException => // lost the race; next version
          v = math.max(v + 1, snapshots(spark, outDir).lastOption.getOrElse(0) + 1)
      }
    }
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$outDir/_lineage/v=$v")),
      s"failed to publish claimed snapshot v=$v under $outDir")
    lineageAt(spark, outDir, v)
  }

  /** All manifest snapshot versions, ascending. */
  def snapshots(spark: SparkSession, tableDir: String): Seq[Int] = {
    val path = new org.apache.hadoop.fs.Path(s"$tableDir/_lineage")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toInt } // .tmp-* excluded
      .sorted
  }

  /** Time travel: the manifest as of snapshot `v`. */
  def lineageAt(spark: SparkSession, tableDir: String, v: Int): DataFrame =
    spark.read.parquet(s"$tableDir/_lineage/v=$v")

  /** The latest manifest snapshot. */
  def lineage(spark: SparkSession, tableDir: String): DataFrame = {
    val vs = snapshots(spark, tableDir)
    require(vs.nonEmpty, s"no lineage snapshots under $tableDir/_lineage")
    lineageAt(spark, tableDir, vs.last)
  }

  /** Resumability: given the lineage of a previous (partial) run, return the
    * partitions of `docsGeo`'s Hilbert range that still need processing —
    * an anti-join on checksum identity (per-partition lineage checkpoint,
    * SURVEY.md §2.11).
    */
  def pendingAfter(docsGeo: DataFrame, lineage: DataFrame): DataFrame = {
    val done = lineage.select(col("min_hilbert"), col("max_hilbert"))
    docsGeo.join(done,
      docsGeo("hilbert") >= done("min_hilbert") && docsGeo("hilbert") <= done("max_hilbert"),
      "left_anti")
  }
}
