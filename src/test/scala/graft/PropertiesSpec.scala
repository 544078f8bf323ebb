package graft

import graft.codec.{DeltaZigZag, FeatureCodec}
import graft.codec.FeatureCodec.{Feature, PBool, PFloat64, PInt64, PString, PValue}
import graft.curve.Hilbert
import graft.geom.{Envelope, Wkb, Wkt}
import graft.index.PackedRTree
import graft.sources.{FlatGeobuf, GeomedeaFile}
import org.scalacheck.{Gen, Prop, Properties}

/** The SURVEY §5 property suite (ScalaCheck, raw `Properties` — the
  * scalatest bridge isn't in the offline cache): index queries equal
  * brute force, the Hilbert layout is a permutation, and
  * codecs/formatters are lossless over arbitrary inputs — the randomized
  * generalization of the frozen goldens.
  */
object PropertiesSpec extends Properties("graft") {

  private val coordLng = Gen.chooseNum(-1800000000, 1800000000)
  private val coordLat = Gen.chooseNum(-900000000, 900000000)
  private val point = for { x <- coordLng; y <- coordLat } yield Wkb.pack(x, y)

  private val envelope = for {
    x0 <- coordLng; x1 <- coordLng; y0 <- coordLat; y1 <- coordLat
  } yield Envelope.fromCorners(x0, y0, x1, y1)

  property("packed R-tree bbox query equals brute-force filter") =
    Prop.forAll(Gen.choose(0, 80).flatMap(n => Gen.listOfN(n, envelope)), envelope) {
      (envs: List[Envelope], q: Envelope) =>
        val leaves = envs.zipWithIndex.map { case (e, i) => (e, i.toLong, 0) }.toIndexedSeq
        val tree = new PackedRTree(leaves.length.toLong, PackedRTree.build(leaves))
        val got = tree.queryBbox(q).toSeq
        val brute = leaves.filter(_._1.intersects(q)).map(_._2)
        got.sorted == brute.sorted && got.distinct == got
    }

  property("Hilbert layout sort is a permutation with in-range keys") =
    Prop.forAll(Gen.listOf(point)) { (pts: List[Long]) =>
      val world = Envelope(-1800000000, -900000000, 1800000000, 900000000)
      val keys = pts.map(p => Hilbert.scaled(Wkb.lngOf(p), Wkb.latOf(p), world))
      val laidOut = pts.zip(keys).sortBy(-_._2).map(_._1)
      laidOut.groupBy(identity).view.mapValues(_.size).toMap ==
        pts.groupBy(identity).view.mapValues(_.size).toMap &&
        keys.forall(k => k >= 0L && k <= 0xFFFFFFFFL)
    }

  property("Hilbert 16-bit cell index is injective") = {
    val cell = Gen.chooseNum(0, 0xFFFF)
    Prop.forAll(cell, cell, cell, cell) { (x1: Int, y1: Int, x2: Int, y2: Int) =>
      ((x1, y1) == (x2, y2)) || Hilbert.index(x1, y1) != Hilbert.index(x2, y2)
    }
  }

  private val geomGen: Gen[Wkb.Geom] = {
    val coords = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, point)).map(_.toArray)
    val rings = Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, coords)).map(_.toVector)
    Gen.oneOf(
      for { x <- coordLng; y <- coordLat } yield Wkb.Pt(x, y),
      coords.map(Wkb.Line(_)),
      rings.map(Wkb.Poly(_)),
      coords.map(Wkb.MultiPt(_)),
      rings.map(Wkb.MultiLine(_)),
      Gen.choose(0, 2).flatMap(n => Gen.listOfN(n, rings)).map(ps => Wkb.MultiPoly(ps.toVector)))
  }

  private val pvalGen: Gen[PValue] = Gen.oneOf(
    Gen.oneOf(true, false).map(PBool(_)),
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(PInt64(_)),
    Gen.chooseNum(-1e9, 1e9).map(PFloat64(_)),
    Gen.alphaNumStr.map(PString(_)))

  property("feature codec roundtrip preserves geometry + ordered props (span-sequence analog)") =
    Prop.forAll(geomGen,
      Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.zip(Gen.identifier, pvalGen))).map(_.toVector)) {
      (g: Wkb.Geom, props: Vector[(String, PValue)]) =>
        val back = FeatureCodec.decodeFeature(FeatureCodec.encodeFeature(Feature(g, props)))
        Wkb.asText(back.geom) == Wkb.asText(g) && back.props == props
    }

  property("streaming envelopeOf equals materialized read().envelope") =
    Prop.forAll(geomGen) { (g: Wkb.Geom) =>
      val bytes = Wkb.write(g)
      Wkb.envelopeOf(bytes) == Wkb.read(bytes).envelope
    }

  property("WKB and WKT roundtrips are lossless on scaled coords") =
    Prop.forAll(geomGen) { (g: Wkb.Geom) =>
      Wkb.asText(Wkb.read(Wkb.write(g))) == Wkb.asText(g) &&
        Wkb.asText(Wkt.parse(Wkb.asText(g))) == Wkb.asText(g)
    }

  property("delta-zigzag codec roundtrips arbitrary int arrays") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue))) { (xs: List[Int]) =>
      DeltaZigZag.decode(DeltaZigZag.encode(xs.toArray)).toSeq == xs
    }

  property("file container select_bbox equals brute filter across codecs and page sizes") =
    Prop.forAll(
      Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, point)),
      envelope,
      Gen.oneOf(64L, 1024L, 1024L * 1024),
      Gen.oneOf(true, false)) {
      (pts: List[Long], q: Envelope, pageGoal: Long, compressed: Boolean) =>
        val feats = pts.zipWithIndex.map { case (p, i) =>
          Feature(Wkb.Pt(Wkb.lngOf(p), Wkb.latOf(p)), Vector("i" -> PInt64(i.toLong)))
        }
        val bytes = GeomedeaFile.write(feats, compressed, pageGoal)
        val got = GeomedeaFile.selectBbox(bytes, q).map(_.props).toSet
        val brute = feats.filter(_.geom.envelope.intersects(q)).map(_.props).toSet
        got == brute && GeomedeaFile.selectAll(bytes).length == feats.length
    }

  property("spill-backed ShardSpool output is byte-identical to writeFull") =
    Prop.forAll(
      Gen.choose(0, 40).flatMap(n =>
        Gen.listOfN(n, Gen.zip(geomGen,
          Gen.choose(0, 4).flatMap(k => Gen.listOfN(k, Gen.zip(Gen.identifier, pvalGen))).map(_.toVector)))),
      Gen.oneOf(64L, 256L, 1024L * 1024),
      Gen.oneOf(true, false)) {
      (fs: List[(Wkb.Geom, Vector[(String, PValue)])], pageGoal: Long, compressed: Boolean) =>
        val feats = fs.map { case (g, p) => Feature(g, p) }
        // compressed page BYTES are zstd-deterministic within one JVM/lib,
        // so full byte equality is assertable for both codecs here
        val expect = GeomedeaFile.writeFull(feats, compressed, pageGoal)
        val spool = new graft.sources.ShardSpool(compressed, pageGoal)
        feats.foreach(spool.add)
        val sink = new java.io.ByteArrayOutputStream()
        val w = spool.commit(_ => sink)
        val got = sink.toByteArray
        java.util.Arrays.equals(got, expect.bytes) &&
          w.totalBytes == expect.bytes.length.toLong &&
          w.extent == expect.extent &&
          w.featureCount == feats.length.toLong
    }

  property("ranged bbox scan equals in-memory indexed scan at arbitrary windows") =
    Prop.forAll(
      Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, point)),
      envelope,
      Gen.oneOf(12, 64, 4096, GeomedeaFile.PageBatchBytes)) {
      (pts: List[Long], q: Envelope, batch: Int) =>
        val feats = pts.zipWithIndex.map { case (p, i) =>
          Feature(Wkb.Pt(Wkb.lngOf(p), Wkb.latOf(p)), Vector("i" -> PInt64(i.toLong)))
        }
        val bytes = GeomedeaFile.write(feats, compressed = true, pageSizeGoal = 256)
        val ranged = GeomedeaFile.selectBboxRange(
          (off, k) => bytes.slice(off.toInt, off.toInt + k), bytes.length.toLong, q, batch).toVector
        ranged == GeomedeaFile.selectBboxLocated(bytes, q)
    }

  /** FGB props pool: fixed key->type mapping so FGB's globally-typed
    * columns are satisfiable by construction.
    */
  private val fgbPropsGen: Gen[Vector[(String, PValue)]] = {
    val entry: Gen[(String, PValue)] = Gen.oneOf(
      Gen.oneOf(true, false).map(v => "b" -> (PBool(v): PValue)),
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(v => "i" -> (PInt64(v): PValue)),
      Gen.chooseNum(-1e9, 1e9).map(v => "f" -> (PFloat64(v): PValue)),
      Gen.alphaNumStr.map(v => "s" -> (PString(v): PValue)))
    Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, entry)).map(_.toVector)
  }

  property("spill-backed FgbSpool output is byte-identical to FlatGeobuf.writeFull") =
    Prop.forAll(
      Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, Gen.zip(geomGen, fgbPropsGen))),
      Gen.oneOf(2, 4, FlatGeobuf.DefaultNodeSize)) {
      (fs: List[(Wkb.Geom, Vector[(String, PValue)])], nodeSize: Int) =>
        val feats = fs.map { case (g, p) => Feature(g, p) }
        val expect = FlatGeobuf.writeFull(feats, nodeSize = nodeSize)
        val spool = new FlatGeobuf.FgbSpool(nodeSize = nodeSize)
        feats.foreach(spool.add)
        val sink = new java.io.ByteArrayOutputStream()
        val w = spool.commit(_ => sink)
        java.util.Arrays.equals(sink.toByteArray, expect.bytes) &&
          w.totalBytes == expect.bytes.length.toLong &&
          w.extent == expect.extent && w.featureCount == feats.length.toLong
    }

  property("FlatGeobuf container roundtrip preserves features; indexed bbox equals brute") =
    Prop.forAll(
      Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, Gen.zip(geomGen, fgbPropsGen))),
      envelope) { (fs: List[(Wkb.Geom, Vector[(String, PValue)])], q: Envelope) =>
      val feats = fs.map { case (g, p) => Feature(g, p) }
      val bytes = graft.sources.FlatGeobuf.write(feats)
      val back = graft.sources.FlatGeobuf.selectAll(bytes)
      def key(f: Feature) = (Wkb.asText(f.geom), f.props)
      def multiset(xs: Seq[Feature]) =
        xs.map(key).groupBy(identity).view.mapValues(_.size).toMap
      val bb = graft.sources.FlatGeobuf.selectBbox(bytes, q).features
      val brute = back.filter(_.geom.envelope.intersects(q))
      multiset(back) == multiset(feats) && multiset(bb) == multiset(brute)
    }

  property("wide-level fragmented hits: ranged scans equal in-memory scans") = {
    // the shape where the per-node lastIndexWhere went quadratic before
    // the running cursor: a WIDE index level whose surviving ranges stay
    // DISJOINT after the 16,000-byte merge, so the traversal walks
    // multiple buffers per level. Both writers Hilbert-sort, so the
    // fragmentation must be geometric: a thin strip across one row of a
    // grid hits cells the curve visits in many separated passes (one
    // feature per page makes the leaf level as wide as the grid).
    val g = 192
    def gridFeats = (0 until g * g).map { i =>
      Feature(Wkb.Pt((i % g) * 1000000 - 64000000, (i / g) * 1000000 - 64000000),
        Vector("i" -> PInt64(i.toLong)))
    }
    val strip = Envelope(-2000000000, -500000, 2000000000, 500000)

    val bytes = GeomedeaFile.write(gridFeats, compressed = true, pageSizeGoal = 1)
    val scan = GeomedeaFile.selectBboxRange(
      (off, k) => bytes.slice(off.toInt, off.toInt + k), bytes.length.toLong, strip)
    val got = scan.toVector
    val gm = Prop(got == GeomedeaFile.selectBboxLocated(bytes, strip)) :| "gm rows equal" &&
      Prop(got.size == g) :| s"gm size ${got.size}" &&
      Prop(scan.requests >= 10) :| s"gm requests ${scan.requests}" && // disjoint ranges fetch separately
      Prop(scan.bytesTransferred < bytes.length.toLong / 2) :|
        s"gm transfer ${scan.bytesTransferred} of ${bytes.length}" // and transfer stays bounded

    val fbytes = FlatGeobuf.write(gridFeats)
    val fgot = FlatGeobuf.selectBboxRange(
      (off, k) => fbytes.slice(off.toInt, off.toInt + k),
      fbytes.length.toLong, strip).toVector.map(_._2)
    def key(f: Feature) = (Wkb.asText(f.geom), f.props)
    def multiset(xs: Seq[Feature]) =
      xs.map(key).groupBy(identity).view.mapValues(_.size).toMap
    val fbrute = FlatGeobuf.selectAll(fbytes).filter(_.geom.envelope.intersects(strip))
    gm && Prop(fgot.size == g) :| s"fgb size ${fgot.size}" &&
      Prop(multiset(fgot) == multiset(fbrute)) :| "fgb rows equal"
  }

  property("generation-log reader never throws on arbitrary bytes (falls back per version)") =
    Prop.forAll(Gen.choose(0, 300).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)))) { bs: List[Byte] =>
      // the log is correctness-bearing but its READER must degrade, not
      // throw: arbitrary/torn content in the newest version falls back to
      // older versions (here: none), i.e. an empty log -> streams hit the
      // loud rewrite error path instead of an exception in planning
      val dir = java.nio.file.Files.createTempDirectory("gm_gen_fuzz")
      java.nio.file.Files.write(
        dir.resolve(f"_generations.v${1L}%019d.tsv"), bs.toArray)
      val p = new org.apache.hadoop.fs.Path(dir.toString)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val r = graft.sources.v2.LakeGenerations.read(fs, p)
      r.isEmpty || r.nonEmpty // reached without throwing
    }

  property("streaming-offset JSON roundtrips for arbitrary shard names (quoting exact)") =
    Prop.forAll(
      Gen.chooseNum(0L, Long.MaxValue / 2),
      Gen.choose(0, 12).flatMap(n => Gen.listOfN(n,
        // exercise the codec's escaping: quotes, backslashes, control
        // chars, ']' and '}' inside names, unicode
        Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('"', '\\', ']', '}', ',', '\n', '\t', 'ü', '')))
          .map(_.mkString).suchThat(_.nonEmpty)))) { (gen: Long, names: List[String]) =>
      val off = graft.sources.v2.GeomedeaOffset(gen, names)
      val back = graft.sources.v2.GeomedeaOffset.fromJson(off.json())
      // json() canonicalizes to the sorted name set
      back.gen == gen && back.files == names.sorted
    }

  property("manifest parser never throws on arbitrary bytes (None/Some, planner falls back)") =
    Prop.forAll(Gen.choose(0, 400).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)))) { bs: List[Byte] =>
      // the manifest is an ADVISORY planning cache: arbitrary/corrupt
      // content must never take down scan planning — read() contracts
      // to None (header-read fallback), never an exception
      val dir = java.nio.file.Files.createTempDirectory("gm_mf_fuzz")
      java.nio.file.Files.write(dir.resolve(
        graft.sources.v2.GeomedeaManifest.FileName), bs.toArray)
      val p = new org.apache.hadoop.fs.Path(dir.toString)
      val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
      val r = graft.sources.v2.GeomedeaManifest.read(fs, p)
      r.isEmpty || r.nonEmpty // reached without throwing
    }
}
