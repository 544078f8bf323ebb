package graft

import graft.codec.FeatureCodec.{Feature, PInt64, PString, PValue}
import graft.geom.{Envelope, Wkb}
import graft.index.PackedRTree
import graft.sources.{FlatGeobuf, GeomedeaFile}
import graft.sources.v2.{ContainerFormat, ContainerScan, ContainerTable, GeomedeaManifest, GeomedeaPartition}
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileStatus, FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.funsuite.AnyFunSuite

/** The container read path: each format decodes a partition in one of two
  * shapes — one forward stream over a byte range (whole file, manifest
  * split, limit prefix) or the ranged index descent both formats share.
  */
class ReadPathSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def fs: FileSystem = FileSystem.getLocal(spark.sessionState.newHadoopConf())

  private def pt(lngDeg: Double, latDeg: Double, id: Long) = Feature(
    Wkb.Pt((lngDeg * 1e7).toInt, (latDeg * 1e7).toInt),
    Vector("doc" -> PString(s"doc-$id-" + "x" * 30), "id" -> PInt64(id)))

  /** A feature as comparable values: WKB hex and typed props. */
  private def key(f: Feature): (String, Vector[(String, PValue)]) =
    (Wkb.write(f.geom).map("%02x".format(_)).mkString, f.props)

  /** One partition's rows through the format's DSv2 decode. */
  private def decoded(format: ContainerFormat, part: GeomedeaPartition,
                      bbox: Option[Envelope] = None): Vector[(Any, (String, Vector[(String, PValue)]))] = {
    val d = format.decode(fs, part, bbox, geomOnly = false)
    try d.features.map { case (loc, f) => (loc: Any, key(f)) }.toVector
    finally d.stream.close()
  }

  /** A one-shard lake written by the v2 writer with small pages and a small
    * split granularity, so its manifest carries several sampled splits.
    */
  private def splitShard(format: String): (String, GeomedeaManifest.Entry) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"readpath_$format").toString
    val feats = (0 until 3000).map(i => pt((i % 100) * 0.01, (i / 100) * 0.01, i.toLong))
    feats.map(f => (Wkb.write(f.geom),
      f.props.map { case (k, v) => graft.sources.GeoJsonIngest.toCell(k, v) }))
      .toDF("wkb", "props").coalesce(1)
      .write.format(format)
      .option("pageSizeGoal", "512")
      .option("splitGranularity", "4096")
      .mode("append").save(dir)
    val p = new Path(dir)
    val entry = GeomedeaManifest.read(fs, p).getOrElse(fail(s"no manifest under $dir")).values.head
    (s"$dir/${entry.name}", entry)
  }

  /** FGB feature offsets, walked off the size prefixes of the raw bytes. */
  private def fgbOffsets(bytes: Array[Byte]): Vector[Long] = {
    val h = FlatGeobuf.readHeader(bytes)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Iterator.iterate(h.featuresOffset)(pos => pos + 4 + bb.getInt(pos.toInt))
      .takeWhile(_ < bytes.length).map(_ - h.featuresOffset).toVector
  }

  for ((format, container) <- Seq("geomedea" -> ContainerFormat.Geomedea,
    "flatgeobuf" -> ContainerFormat.FlatGeobuf)) {
    test(s"$format: concatenated splits == whole-range stream == in-memory reference") {
      val (path, entry) = splitShard(format)
      assert(entry.validSplits.size >= 3, s"expected several splits, got ${entry.splits}")
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val reference: Vector[(Any, (String, Vector[(String, PValue)]))] =
        if (format == "geomedea")
          GeomedeaFile.selectAllLocated(bytes).map { case (loc, f) => (loc: Any, key(f)) }
        else fgbOffsets(bytes).zip(FlatGeobuf.selectAll(bytes)).map { case (o, f) => (o: Any, key(f)) }
      assert(reference.size == 3000)
      val parts = ContainerTable.splitPartitions(path, bytes.length.toLong, entry.validSplits)
      assert(parts.size == entry.validSplits.size)
      val splits = parts.flatMap(decoded(container, _)).toVector
      val whole = decoded(container, GeomedeaPartition(path, bytes.length.toLong))
      assert(splits == reference)
      assert(whole == reference)
    }

    test(s"$format: a pushed limit reads only a prefix of the stream") {
      val (path, _) = splitShard(format)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val df = spark.read.format(format).load(path).limit(25)
      val scan = df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.scan
      }.collectFirst { case s: ContainerScan => s }.getOrElse(fail("no ContainerScan"))
      val parts = scan.toBatch.planInputPartitions()
      assert(parts.length == 1, "a limit plans whole files, never splits")
      val reader = scan.toBatch.createReaderFactory().createReader(parts.head)
      var n = 0
      while (reader.next()) n += 1
      val metrics = reader.currentMetricsValues().map(m => m.name() -> m.value()).toMap
      reader.close()
      assert(n == 25 && metrics("rowsDecoded") == 25)
      if (format == "geomedea") {
        // exactly the pages that hold the first 25 rows
        val prefix = GeomedeaFile.selectAllLocated(bytes).take(25)
        val pages = prefix.map(_._1._1).distinct
        assert(metrics("pagesDecoded") == pages.size)
        assert(pages.size < GeomedeaFile.header(bytes)._2)
      } else {
        // exactly the first 25 feature blocks
        val offs = fgbOffsets(bytes)
        assert(metrics("bytesDecoded") == offs(25) - offs(0))
      }
    }

    test(s"$format: an empty file gives 0 rows through both shapes") {
      val dir = java.nio.file.Files.createTempDirectory(s"readpath_empty_$format").toString
      val file = s"$dir/empty${container.suffix}"
      java.nio.file.Files.write(java.nio.file.Paths.get(file),
        if (format == "geomedea") GeomedeaFile.write(Seq.empty, compressed = true)
        else FlatGeobuf.write(Seq.empty))
      val len = new java.io.File(file).length
      assert(decoded(container, GeomedeaPartition(file, len)).isEmpty)
      assert(decoded(container, GeomedeaPartition(file, len),
        Some(Envelope.fromDegrees(-180, -90, 180, 90))).isEmpty)
      assert(spark.read.format(format).load(file).collect().isEmpty)
    }
  }

  /** The local file system, counting what the readers ask of it: opens,
    * closes, status calls and the offsets of positioned reads.
    */
  private final class CountingFs extends FilterFileSystem(FileSystem.getLocal(
      spark.sessionState.newHadoopConf())) {
    var opens, closes, statuses = 0
    val reads = scala.collection.mutable.ArrayBuffer.empty[Long]
    override def getFileStatus(f: Path): FileStatus = { statuses += 1; super.getFileStatus(f) }
    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      opens += 1
      val in = super.open(f, bufferSize)
      new FSDataInputStream(new FSInputStream {
        def seek(pos: Long): Unit = in.seek(pos)
        def getPos: Long = in.getPos
        def seekToNewSource(target: Long): Boolean = false
        def read(): Int = in.read()
        override def read(b: Array[Byte], off: Int, len: Int): Int = in.read(b, off, len)
        override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
          reads += pos; in.read(pos, b, off, len)
        }
        override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
          reads += pos; in.readFully(pos, b, off, len)
        }
        override def close(): Unit = { closes += 1; in.close() }
      })
    }
  }

  for ((format, container) <- Seq("geomedea" -> ContainerFormat.Geomedea,
    "flatgeobuf" -> ContainerFormat.FlatGeobuf)) {
    test(s"$format: decode opens the file once, asks no status, and closes it when it throws") {
      val (path, entry) = splitShard(format)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val whole = GeomedeaPartition(path, bytes.length.toLong)
      val all = Some(Envelope.fromDegrees(-180, -90, 180, 90))
      for (bbox <- Seq(None, all)) {
        val cfs = new CountingFs
        val d = container.decode(cfs, whole, bbox, geomOnly = false)
        assert(d.features.size == 3000)
        d.stream.close()
        assert((cfs.opens, cfs.closes, cfs.statuses) == (1, 1, 0), s"bbox $bbox")
        // the header is read once, FGB's ranged scan included
        assert(cfs.reads.count(_ == 0L) == 1, s"bbox $bbox: reads at ${cfs.reads}")
      }
      // a corrupt header, in both shapes
      val dir = java.nio.file.Files.createTempDirectory(s"readpath_corrupt_$format").toString
      val corrupt = s"$dir/corrupt${container.suffix}"
      java.nio.file.Files.write(java.nio.file.Paths.get(corrupt),
        Array.fill[Byte](64)(0x7f) ++ bytes.drop(64))
      for (bbox <- Seq(None, all)) {
        val cfs = new CountingFs
        intercept[IllegalArgumentException](
          container.decode(cfs, GeomedeaPartition(corrupt, bytes.length.toLong), bbox, geomOnly = false))
        assert((cfs.opens, cfs.closes, cfs.statuses) == (1, 1, 0), s"corrupt header, bbox $bbox")
      }
      // a stale manifest split: its data-section base disagrees with the header
      val split = ContainerTable.splitPartitions(path, bytes.length.toLong, entry.validSplits).head
      val cfs = new CountingFs
      intercept[IllegalArgumentException](
        container.decode(cfs, split.copy(dataStart = split.dataStart + 1), None, geomOnly = false))
      assert((cfs.opens, cfs.closes, cfs.statuses) == (1, 1, 0), "stale split")
    }
  }

  /** Seeded leaf envelopes: points and small boxes over a 10x10 degree
    * square, with some duplicates.
    */
  private def envelopes(n: Int, seed: Int): IndexedSeq[Envelope] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val x = rnd.nextInt(100000000); val y = rnd.nextInt(100000000)
      Envelope(x, y, x + rnd.nextInt(3) * rnd.nextInt(5000000), y + rnd.nextInt(3) * rnd.nextInt(5000000))
    }
  }

  private def windows(seed: Int): Seq[Envelope] = {
    val rnd = new scala.util.Random(seed)
    Seq(Envelope(Int.MinValue, Int.MinValue, Int.MaxValue, Int.MaxValue),
      Envelope(200000000, 200000000, 300000000, 300000000)) ++
      (0 until 40).map { _ =>
        val x = rnd.nextInt(110000000) - 5000000; val y = rnd.nextInt(110000000) - 5000000
        val w = rnd.nextInt(30000000); val h = rnd.nextInt(30000000)
        Envelope(x, y, x + w, y + h)
      }
  }

  test("the shared descent equals the in-memory BFS (geomedea, 16-way)") {
    val b = PackedRTree.Branching
    for (n <- Seq(0, 1, b, b + 1, b * b + 1)) {
      val leaves = envelopes(n, n).zipWithIndex.map { case (e, i) => (e, i.toLong, 0) }
      val bytes = PackedRTree.build(leaves)
      val tree = new PackedRTree(n.toLong, bytes)
      for (q <- windows(n)) {
        val got = Vector.newBuilder[Long]
        PackedRTree.descend(n.toLong, b, PackedRTree.NodeBytes,
          (off, len) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)) {
          (buf, o) =>
            val bb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
            Envelope(bb.getInt(o), bb.getInt(o + 4), bb.getInt(o + 8), bb.getInt(o + 12)).intersects(q)
        } { (buf, o) =>
          got += java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(o + 16)
        }
        assert(got.result() == tree.queryBbox(q).toVector, s"n=$n q=$q")
      }
    }
  }

  test("the shared descent equals the in-memory BFS (FlatGeobuf node sizes 2, 3, 16)") {
    for (b <- Seq(2, 3, 16); n <- Seq(0, 1, b, b + 1, b * b + 1)) {
      val feats = envelopes(n, 100 + n).zipWithIndex.map { case (e, i) =>
        Feature(if (e.minLng == e.maxLng && e.minLat == e.maxLat) Wkb.Pt(e.minLng, e.minLat)
        else Wkb.Line(Array(Wkb.pack(e.minLng, e.minLat), Wkb.pack(e.maxLng, e.maxLat))),
          Vector("id" -> PInt64(i.toLong)))
      }
      val bytes = FlatGeobuf.write(feats, nodeSize = b)
      for (q <- windows(b * 1000 + n)) {
        val expect = FlatGeobuf.selectBbox(bytes, q).features.map(key)
        for (batch <- Seq(64, GeomedeaFile.PageBatchBytes)) {
          val got = FlatGeobuf.selectBboxRange(
            (off, k) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + k),
            bytes.length.toLong, q, batch).map(f => key(f._2)).toVector
          assert(got == expect, s"nodeSize=$b n=$n q=$q batch=$batch")
        }
      }
    }
  }
}
