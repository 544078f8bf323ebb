package graft

import graft.codec.FeatureCodec.{Feature, PInt64, PString}
import graft.geom.{Envelope, Wkb}
import graft.jobs.Compact
import graft.sources.GeomedeaFile
import graft.sources.v2.{ContainerFormat, GeomedeaManifest}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Compact.compact`: the reference's "concatenating files = re-ingest"
  * (SURVEY.md §2.7) as a distributed table-maintenance job. Appends
  * create shards with overlapping extents; compaction restores the
  * globally-Hilbert-clustered layout so planning-time file pruning works
  * again.
  */
class CompactionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def pt(lngDeg: Double, latDeg: Double, id: Long) = Feature(
    Wkb.Pt((lngDeg * 1e7).toInt, (latDeg * 1e7).toInt),
    Vector("doc" -> PString(s"doc-$id"), "id" -> PInt64(id)))

  /** A lake of `files` shards, EACH containing both west (~[0,10] deg)
    * and east (~[100,110] deg) points — every shard's extent spans the
    * globe, the worst case appends converge to.
    */
  private def overlappingLake(files: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("gm_compact").toString
    for (f <- 0 until files) {
      val feats = (0 until 20).map { i =>
        val id = (f * 100 + i).toLong
        if (i % 2 == 0) pt(i % 10, i / 2, id) else pt(100 + i % 10, i / 2, id)
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(f"$dir/append-$f%02d.geomedea"),
        GeomedeaFile.write(feats, compressed = true, pageSizeGoal = 256))
    }
    dir
  }

  /** Three independent global-spread appends (extent ~= the whole lake —
    * exactly what erodes pruning) through the v2 writer, so the manifest
    * describes them.
    */
  private def appendGlobalSpread(dir: String): Unit = {
    import spark.implicits._
    for (a <- 0 until 3) {
      (0 until 20).map { i =>
        val id = (1000 + a * 100 + i).toLong
        val lng = (if (i % 2 == 0) i % 10 else 100 + i % 10) * 1e7
        (graft.geom.Wkb.write(graft.geom.Wkb.Pt(lng.toInt, (i / 2 * 1e7).toInt)),
          Seq(graft.sources.GeoJsonIngest.toCell("doc",
            graft.codec.FeatureCodec.PString(s"doc-$id")),
            graft.sources.GeoJsonIngest.toCell("id",
              graft.codec.FeatureCodec.PInt64(id))))
      }.toDF("wkb", "props")
        .repartition(1).write.format("geomedea").mode("append").save(dir)
    }
  }

  /** Asserts no plan holds a Union and every container scan plans exactly
    * `pinned` (file names); returns how many scans were checked.
    */
  private def assertOneScanOver(plans: Seq[org.apache.spark.sql.execution.QueryExecution],
                                pinned: Set[String]): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    plans.map { qe =>
      val plan = qe.optimizedPlan
      assert(plan.collect { case u: Union => u }.isEmpty, s"Union in a compaction plan:\n$plan")
      val scans = plan.collect { case r: DataSourceV2ScanRelation => r.scan }
      assert(scans.size <= 1, s"more than one container scan in one plan:\n$plan")
      scans.foreach { scan =>
        val files = scan.toBatch.planInputPartitions().map(p =>
          new org.apache.hadoop.fs.Path(p.asInstanceOf[graft.sources.v2.GeomedeaPartition].file).getName)
        assert(files.toSet == pinned, s"scan planned ${files.toSet}, pinned $pinned")
      }
      scans.size
    }.sum
  }

  private def idsAt(dir: String): Set[(Long, Int, Int)] =
    spark.read.format("geomedea").load(dir)
      .select(element_at(col("prop_vals"), 2).cast("long"), col("min_lng"), col("min_lat"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

  test("compaction restores planning-time pruning and preserves every row") {
    val dir = overlappingLake(6)
    val east = Envelope.fromDegrees(100, 0, 110, 10)
    val before = idsAt(dir)
    assert(before.size == 120)
    // worst case: every appended shard overlaps the east rect -> planning
    // keeps all 6 files
    assert(ContainerFormat.Geomedea.scanFiles(dir, Some(east)).size == 6)

    val written = Compact.compact(spark, dir, numShards = 6)
    assert(written == 6)

    // same rows, byte-identical stats, through the compacted layout
    assert(idsAt(dir) == before)
    // globally Hilbert-clustered shards have localized extents: the east
    // rect now plans a STRICT subset of files (the two point clusters
    // are far apart on the curve, so at most half the shards + one
    // boundary shard can touch east)
    val plannedEast = ContainerFormat.Geomedea.scanFiles(dir, Some(east)).size
    assert(plannedEast < 6, s"expected < 6 planned files after compaction, got $plannedEast")
    val west = Envelope.fromDegrees(0, 0, 10, 10)
    val plannedWest = ContainerFormat.Geomedea.scanFiles(dir, Some(west)).size
    assert(plannedWest < 6, s"expected < 6 planned files after compaction, got $plannedWest")
    // both rects still return exactly their cluster
    val eastRows = spark.read.format("geomedea").load(dir)
      .where(col("max_lng") >= east.minLng && col("max_lat") >= east.minLat &&
        col("min_lng") <= east.maxLng && col("min_lat") <= east.maxLat).count()
    assert(eastRows == 60)
    // commit refreshed the manifest: one planning read covers the lake
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val manifest = GeomedeaManifest.read(fs, p)
    assert(manifest.isDefined && manifest.get.size == 6)
    // old append-* shards are gone (targeted planned-set delete), and
    // no stage directory is left
    assert(fs.listStatus(p).forall(s => !s.getPath.getName.startsWith("append-")))
    assert(fs.listStatus(p).forall(s => !s.getPath.getName.startsWith(Compact.StagePrefix)))
  }

  test("Info.renderLake reports shard totals, manifest health, pending swap") {
    val dir = overlappingLake(3)
    // hand-built lake: no manifest yet
    val r1 = graft.table.Info.renderLake(spark, dir, ".geomedea")
    assert(r1.contains("shards: 3") && r1.contains("absent"))
    Compact.compact(spark, dir, numShards = 2)
    val r2 = graft.table.Info.renderLake(spark, dir, ".geomedea")
    assert(r2.contains("shards: 2") && r2.contains("valid") && r2.contains("features: 60"))
    assert(r2.contains("pending_compaction_swap: no"))
    // an interrupted swap — the newest record's stage directory still
    // present — is surfaced
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val token = graft.sources.v2.LakeGenerations.read(fs, p).last.token
    val stage = new org.apache.hadoop.fs.Path(p, s"${Compact.StagePrefix}$token")
    fs.mkdirs(stage)
    assert(graft.table.Info.renderLake(spark, dir, ".geomedea").contains("YES"))
    fs.delete(stage, true)
  }

  test("LakeHealth: one consistent view over parquet, geomedea and fgb layouts") {
    import graft.table.LakeHealth
    // container lake: generation history appears after a compaction
    val dir = overlappingLake(3)
    val h0 = LakeHealth.describe(spark, dir)
    assert(h0.layout == "geomedea" && h0.files == 3 && h0.generation == 0
      && h0.history.isEmpty && !h0.pendingMaintenance)
    Compact.compact(spark, dir, numShards = 2)
    val h1 = LakeHealth.describe(spark, dir)
    assert(h1.layout == "geomedea" && h1.files == 2 && h1.generation == 1)
    assert(h1.rows.contains(60L) && h1.manifestState.startsWith("valid"))
    assert(h1.history == Seq(h1.history.head) && h1.history.head.startsWith("gen 1: compacted 3 -> 2"))

    // parquet table: lineage snapshot version plays the generation role
    val geo = graft.table.InterleavedDocs.withGeometry(
      graft.table.InterleavedDocs.docs(spark, "/root/testdata/sf0.001"))
    val out = java.nio.file.Files.createTempDirectory("graft_health").toString
    graft.jobs.Ingest.write(geo, out, numPartitions = 2)
    val hp = LakeHealth.describe(spark, out)
    assert(hp.layout == "parquet" && hp.generation == 1 && hp.files > 0)
    assert(hp.rows.contains(geo.count()) && hp.manifestState.startsWith("valid"))
    assert(hp.history.head.contains("v=1"))
    // the same fields render through the same block for every layout
    val block = LakeHealth.render(out, hp)
    Seq("lake:", "shards:", "manifest:", "generation:", "pending_compaction_swap:")
      .foreach(k => assert(block.contains(k), s"missing $k in:\n$block"))
    assert(graft.table.Info.render(spark, out).contains("generation: 1"))
  }

  test("flatgeobuf lakes compact through the same job") {
    val dir = java.nio.file.Files.createTempDirectory("fgb_compact").toString
    for (f <- 0 until 4) {
      val feats = (0 until 20).map { i =>
        val id = (f * 100 + i).toLong
        if (i % 2 == 0) pt(i % 10, i / 2, id) else pt(100 + i % 10, i / 2, id)
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(f"$dir/append-$f%02d.fgb"),
        graft.sources.FlatGeobuf.write(feats))
    }
    val east = Envelope.fromDegrees(100, 0, 110, 10)
    def ids(): Set[Long] = spark.read.format("flatgeobuf").load(dir)
      .select(element_at(col("prop_vals"), 2).cast("long"))
      .collect().map(_.getLong(0)).toSet
    val before = ids()
    assert(before.size == 80)
    assert(ContainerFormat.FlatGeobuf.scanFiles(dir, Some(east)).size == 4)
    val written = Compact.compact(spark, dir, numShards = 4, format = "flatgeobuf")
    assert(written == 4)
    assert(ids() == before)
    assert(ContainerFormat.FlatGeobuf.scanFiles(dir, Some(east)).size < 4)
    assert(Compact.compact(spark, dir, numShards = 2, format = "geomedea") == 0) // wrong-suffix no-op

    // incremental maintenance serves .fgb lakes through the same picker:
    // a global-spread v2-writer append is the only candidate set; the
    // compacted shards stay byte-untouched and repeated calls converge
    import spark.implicits._
    def shardNames() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".fgb")).toSet
    val clustered = shardNames()
    for (a <- 0 until 2)
      (0 until 20).map { i =>
        val id = (1000 + a * 100 + i).toLong
        val lng = (if (i % 2 == 0) i % 10 else 100 + i % 10) * 1e7
        (graft.geom.Wkb.write(graft.geom.Wkb.Pt(lng.toInt, (i / 2 * 1e7).toInt)),
          Seq(graft.sources.GeoJsonIngest.toCell("doc",
            graft.codec.FeatureCodec.PString(s"doc-$id")),
            graft.sources.GeoJsonIngest.toCell("id",
              graft.codec.FeatureCodec.PInt64(id))))
      }.toDF("wkb", "props")
        .repartition(1).write.format("flatgeobuf").mode("append").save(dir)
    val withAppends = ids()
    assert(Compact.incremental(spark, dir, numShards = 2, targetShardBytes = 1,
      format = "flatgeobuf") == 2)
    assert(clustered.subsetOf(shardNames()))
    assert(ids() == withAppends)
    assert(Compact.incremental(spark, dir, numShards = 2, targetShardBytes = 1,
      format = "flatgeobuf") == 0)
  }

  test("sliced compaction: bounded planned set per swap, rows identical, pruning improves") {
    // a 100k-shard lake must not pay one 100k-way union on the driver:
    // maxShardsPerCall bounds each swap's planned set; each slice is its
    // own pinned-set generation swap
    val dir = overlappingLake(9)
    val east = Envelope.fromDegrees(100, 0, 110, 10)
    val before = idsAt(dir)
    assert(before.size == 180)
    assert(ContainerFormat.Geomedea.scanFiles(dir, Some(east)).size == 9)
    val written = Compact.compact(spark, dir, numShards = 6, maxShardsPerCall = 3)
    assert(idsAt(dir) == before, "sliced compaction must preserve every row byte-identically")
    // one generation recorded per slice, jointly condemning all 9 appends
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val gens = graft.sources.v2.LakeGenerations.read(fs, p)
    assert(gens.size == 3, s"expected 3 slice generations, got ${gens.size}")
    assert(gens.flatMap(_.condemned).toSet.size == 9)
    assert(gens.map(_.gen) == Seq(1L, 2L, 3L))
    // every slice bounded: no generation condemned more than the cap
    assert(gens.forall(_.condemned.size <= 3))
    // pruning improved: the east rect no longer plans every shard
    assert(ContainerFormat.Geomedea.scanFiles(dir, Some(east)).size < written)
    // a second, unsliced pass converges to fully-global clustering
    Compact.compact(spark, dir, numShards = 6)
    assert(idsAt(dir) == before)
    assert(ContainerFormat.Geomedea.scanFiles(dir, Some(east)).size <= 4)
  }

  test("generation-record crash recovery: an interrupted swap is finished before planning") {
    // simulate a compact that crashed right after recording its
    // generation: the staged replacement exists and is journaled, but no
    // rename/delete ran — the next call must publish the replacement,
    // delete the condemned shard, and only then plan
    val dir = overlappingLake(3)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val token = "c0123456789abcdef"
    val stage = new org.apache.hadoop.fs.Path(p, s"${Compact.StagePrefix}$token")
    fs.mkdirs(stage)
    val repl = (900 until 920).map(i => pt(i % 10, i % 5, i.toLong))
    val out = fs.create(new org.apache.hadoop.fs.Path(stage, s"part-$token-0.geomedea"), true)
    out.write(GeomedeaFile.write(repl, compressed = true, pageSizeGoal = 256)); out.close()
    graft.sources.v2.LakeGenerations.append(fs, p, token,
      condemned = Seq("append-00.geomedea"), replacements = Seq(s"part-$token-0.geomedea"))
    assert(Compact.hasPendingSwap(fs, p))
    Compact.compact(spark, dir, numShards = 2)
    // append-00's rows (0..19) were replaced by 900..919 BEFORE planning;
    // append-01/02's rows all survive
    val after = idsAt(dir).map(_._1)
    assert(after == ((900 until 920) ++ (100 until 120) ++ (200 until 220)).map(_.toLong).toSet,
      s"got ${after.toSeq.sorted}")
    assert(!Compact.hasPendingSwap(fs, p))
    assert(!fs.exists(stage))
    // an orphan stage with NO record (crash before the record) is residue:
    // cleaned up without touching the lake
    val orphan = new org.apache.hadoop.fs.Path(p, s"${Compact.StagePrefix}cdeadbeef")
    fs.mkdirs(orphan)
    val rows = idsAt(dir)
    Compact.compact(spark, dir, numShards = 2)
    assert(!fs.exists(orphan))
    assert(idsAt(dir) == rows)
  }

  test("generation log is versioned: one file per publish, clear() drops every version") {
    import graft.sources.v2.LakeGenerations
    // the log is correctness-bearing for exactly-once resume, so publish
    // renames to a FRESH versioned name (a delete-then-rename would have
    // a crash window destroying the whole log and a read window where a
    // tailing stream sees an empty log and dies spuriously)
    val dir = overlappingLake(3)
    Compact.compact(spark, dir, numShards = 2)
    val d = new java.io.File(dir)
    def genFiles() = d.listFiles().map(_.getName).filter(_.startsWith("_generations")).sorted
    val g1 = genFiles()
    assert(g1.length == 1 && g1.head.matches("_generations\\.v\\d{19}\\.tsv"),
      s"expected exactly one versioned log, got: ${g1.mkString(",")}")
    Compact.compact(spark, dir, numShards = 1)
    val g2 = genFiles()
    assert(g2.length == 1 && g2.head > g1.head,
      s"superseded version must be cleaned after the new one is visible: ${g2.mkString(",")}")

    // clear() (truncate semantics) removes every version
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(LakeGenerations.read(fs, p).map(_.gen) == Seq(1L, 2L))
    LakeGenerations.clear(fs, p)
    assert(LakeGenerations.read(fs, p).isEmpty)
    assert(genFiles().isEmpty)
  }

  test("LakeHealth: empty lineage snapshot reports 0 features instead of an NPE") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gm_health0").toString
    // a published snapshot over zero docs: sum(rows) is SQL NULL
    Seq.empty[(String, Long)].toDF("file", "rows")
      .repartition(1).write.parquet(s"$dir/_lineage/v=1")
    val h = graft.table.LakeHealth.describe(spark, dir)
    assert(h.layout == "parquet" && h.rows.contains(0L) && h.generation == 1)
  }

  test("offset JSON: checkpoints of the earlier encoder parse unchanged; malformed offsets are rejected") {
    import graft.sources.v2.GeomedeaOffset
    // json() output of the hand-written encoder the Jackson codec
    // replaced (it wrote control chars as 4-hex-digit escapes), byte for
    // byte: checkpoints it wrote must keep resuming
    val odd = Seq("q\"uote.geomedea", "back\\slash.fgb", "br]acket}.geomedea",
      "co,mma.geomedea", "new\nline.geomedea", "z\u00fcrich-\u6771\u4eac.geomedea")
    Seq(
      "{\"gen\":0,\"files\":[]}" -> GeomedeaOffset(0L, Seq.empty),
      "{\"gen\":3,\"files\":[\"part-abc-0.geomedea\",\"part-abc-1.geomedea\"]}" ->
        GeomedeaOffset(3L, Seq("part-abc-1.geomedea", "part-abc-0.geomedea")),
      ("{\"gen\":7,\"files\":[\"back\\\\slash.fgb\",\"br]acket}.geomedea\"," +
        "\"co,mma.geomedea\",\"new\\u000aline.geomedea\",\"q\\\"uote.geomedea\"," +
        "\"z\u00fcrich-\u6771\u4eac.geomedea\"]}") -> GeomedeaOffset(7L, odd)
    ).foreach { case (golden, want) =>
      val got = GeomedeaOffset.fromJson(golden)
      assert(got.gen == want.gen && got.files == want.files.sorted, golden)
      assert(GeomedeaOffset.fromJson(want.json()).files == want.files.sorted)
    }
    // no gen, a negative gen, a string gen, non-string files, no files,
    // a bare name array (the old unversioned form), not JSON at all
    Seq("{\"files\":[]}", "{\"gen\":-1,\"files\":[]}", "{\"gen\":\"1\",\"files\":[]}",
      "{\"gen\":1,\"files\":[1,2]}", "{\"gen\":1}", "[\"a.geomedea\"]", "", "{\"gen\":").foreach { bad =>
      intercept[IllegalArgumentException](GeomedeaOffset.fromJson(bad))
    }
  }

  test("offset snapshot: mid-swap replacements tracked; a swap landing during the listing retries") {
    import graft.sources.v2.{GeomedeaOffset, LakeGenerations}
    val dir = overlappingLake(2)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def listNow() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".geomedea")).map(_.toString).toSeq.sorted

    // MID-SWAP: gen 1 recorded, stage dir still present, replacement not
    // yet renamed — the offset must track the replacement as pending (a
    // stream crossing the generation commits it in the same batch) and
    // drop the condemned name
    val token = "c00000000000snap1"
    val stage = new org.apache.hadoop.fs.Path(p, s"${Compact.StagePrefix}$token")
    fs.mkdirs(stage)
    val out = fs.create(new org.apache.hadoop.fs.Path(stage, s"part-$token-0.geomedea"), true)
    out.write(GeomedeaFile.write((0 until 5).map(i => pt(i, i, 500L + i)),
      compressed = true, pageSizeGoal = 256)); out.close()
    LakeGenerations.append(fs, p, token,
      condemned = Seq("append-00.geomedea"), replacements = Seq(s"part-$token-0.geomedea"))
    val mid = GeomedeaOffset.snapshot(fs, p, () => listNow())
    val midNames = mid.files.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    assert(mid.gen == 1L && midNames == Set("append-01.geomedea", s"part-$token-0.geomedea"),
      s"mid-swap offset must track the pending replacement and drop the condemned: $midNames")

    // SWAP COMPLETING DURING THE LISTING: the lister's own side effect
    // finishes the swap AND appends generation 2 — snapshot must notice
    // the log moved under it and retry with the fresh record instead of
    // pairing gen 1 with a post-gen-2 listing (the next batch would
    // re-emit the new replacement as fresh data = duplicate rows)
    var calls = 0
    val lister = () => {
      calls += 1
      if (calls == 1) {
        Compact.compact(spark, dir, numShards = 1) // finishes swap 1, records gen 2
      }
      listNow()
    }
    val snap = GeomedeaOffset.snapshot(fs, p, lister)
    assert(calls >= 2, "snapshot must re-list after the log moved under it")
    assert(snap.gen == 2L, s"offset must carry the generation the listing belongs to: $snap")
    val liveNames = listNow().map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    assert(snap.files.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet == liveNames)

    // the EMPTY-log path takes the same protection: a lake's FIRST
    // compaction landing during the listing must not pair a gen-0 offset
    // with the post-swap listing (the replacement would replay as fresh
    // data next batch — every condemned row duplicated)
    val dir2 = overlappingLake(2)
    val p2 = new org.apache.hadoop.fs.Path(dir2)
    var calls2 = 0
    val snap2 = GeomedeaOffset.snapshot(fs, p2, () => {
      calls2 += 1
      if (calls2 == 1) Compact.compact(spark, dir2, numShards = 1)
      new java.io.File(dir2).listFiles()
        .filter(_.getName.endsWith(".geomedea")).map(_.toString).toSeq.sorted
    })
    assert(calls2 >= 2 && snap2.gen == 1L,
      s"first-compaction race must retry to the recorded generation: $snap2 after $calls2 listings")
  }

  test("generation log: torn newest version falls back; racing same-gen publish fails loudly") {
    import graft.sources.v2.LakeGenerations
    val dir = java.nio.file.Files.createTempDirectory("gm_torn").toString
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    LakeGenerations.append(fs, p, "c0000000000000aa1", Seq("a.geomedea"), Seq("b.geomedea"))
    val good = LakeGenerations.read(fs, p)
    assert(good.map(_.gen) == Seq(1L))
    // a publisher that crashed mid-write leaves a TORN newer version: the
    // v1 count header says 2 records but only 1 follows — readers must
    // skip it and serve the intact previous version (losing the whole log
    // would kill every tailing stream spuriously)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, f"_generations.v${2L}%019d.tsv"),
      ("v1\t2\n" + good.head.line + "\n").getBytes("UTF-8"))
    assert(LakeGenerations.read(fs, p) == good,
      "a torn newest version must fall back to the intact previous one")
    // the torn file claims version 2. While FRESH it may be a LIVE
    // publisher's in-flight file (0 bytes until the close flushes), so
    // the publish fails loudly naming the grace...
    val eFresh = intercept[IllegalStateException] {
      LakeGenerations.append(fs, p, "c0000000000000aa2",
        Seq("b.geomedea"), Seq("c.geomedea"))
    }
    assert(eFresh.getMessage.contains("grace"))
    // ...but once STALE it is provably a crashed publisher's residue and
    // the next publish RECLAIMS it (otherwise one crash mid-write would
    // wedge every future compaction of the lake forever)
    val torn = java.nio.file.Paths.get(dir, f"_generations.v${2L}%019d.tsv")
    java.nio.file.Files.setLastModifiedTime(torn,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - LakeGenerations.TornReclaimGraceMs - 60000))
    val g2 = LakeGenerations.append(fs, p, "c0000000000000aa2",
      Seq("b.geomedea"), Seq("c.geomedea"))
    assert(g2 == 2L && LakeGenerations.read(fs, p).map(_.gen) == Seq(1L, 2L))
    // a PARSEABLE claimant is a live concurrent publisher's complete
    // record and must stay a loud failure — records are never silently
    // replaced. Emulate the race: two publishers computed gen 3; the
    // second arrives after the first's complete file exists.
    LakeGenerations.publishAt(fs, p, 3L,
      Seq(LakeGenerations.Gen(3L, "tokR", Set("x.geomedea"), Set("y.geomedea"))))
    val e = intercept[IllegalStateException] {
      LakeGenerations.publishAt(fs, p, 3L,
        Seq(LakeGenerations.Gen(3L, "tokZ", Set("b.geomedea"), Set("z.geomedea"))))
    }
    assert(e.getMessage.contains("concurrent compaction"))
  }

  test("incremental compaction never churns: just-rewritten shards are not re-picked") {
    import spark.implicits._
    // UNIFORM data (one cluster): replacements of a globally-spread
    // subset still cover large boxes, so the area criterion alone would
    // re-pick them on every call and a polling scheduler would rewrite
    // the same bytes forever — the last generation's replacements are
    // excluded until newer work arrives
    val dir = java.nio.file.Files.createTempDirectory("gm_churn").toString
    def uniform(ids: Range) = ids.map { i =>
      (graft.geom.Wkb.write(graft.geom.Wkb.Pt(
        ((i * 7 % 100) / 10.0 * 1e7).toInt, ((i * 13 % 100) / 10.0 * 1e7).toInt)),
        Seq(graft.sources.GeoJsonIngest.toCell("id",
          graft.codec.FeatureCodec.PInt64(i.toLong))))
    }.toDF("wkb", "props")
    uniform(0 until 240).repartition(4).write.format("geomedea").mode("append").save(dir)
    Compact.compact(spark, dir, numShards = 12)
    for (a <- 0 until 3)
      uniform((1000 + a * 100) until (1000 + a * 100 + 20))
        .repartition(1).write.format("geomedea").mode("append").save(dir)
    def count() = spark.read.format("geomedea").load(dir).count()
    val rows = count()
    assert(Compact.incremental(spark, dir, numShards = 2, targetShardBytes = 1) == 3)
    assert(count() == rows)
    // the 2 replacements each cover ~half the lake: area-wise they WOULD
    // be candidates again — prove the maintenance-output exclusion is
    // what stops the churn
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(dir)
    val shards = fs.listStatus(p).toSeq.filter(s =>
      s.isFile && s.getPath.getName.endsWith(".geomedea"))
    val manifest = graft.sources.v2.GeomedeaManifest.read(fs, p).getOrElse(Map.empty)
    // EMPTY log + compaction-minted names: the exclusion must survive the
    // generation log's retention horizon (a long-lived lake would
    // otherwise churn-rewrite old maintenance outputs forever once their
    // records age past MaxGenerations) — the name pattern never expires
    assert(Compact.pickCandidates(shards, 1L, 4.0, manifest, log = Seq.empty).isEmpty,
      "maintenance-name exclusion must survive log-horizon expiry")
    // control: the same shards DISGUISED under append-style names (same
    // lengths + manifest extents) ARE re-picked by the area criterion —
    // proving the exclusions are what stops the churn
    val disguised = shards.zipWithIndex.map { case (s, i) =>
      val nn = f"part-deadbeef-$i%05d.geomedea"
      (new org.apache.hadoop.fs.FileStatus(s.getLen, false, 1, 64,
        s.getModificationTime, new org.apache.hadoop.fs.Path(p, nn)),
        s.getPath.getName, nn)
    }
    val remapped = disguised.flatMap { case (_, old, nn) =>
      manifest.get(old).map(e => nn -> e.copy(name = nn))
    }.toMap
    assert(Compact.pickCandidates(disguised.map(_._1), 1L, 4.0, remapped,
      log = Seq.empty).size >= 2,
      "without the exclusions the replacements would be re-picked (churn)")
    assert(Compact.incremental(spark, dir, numShards = 2, targetShardBytes = 1) == 0,
      "repeated incremental calls must converge to a no-op")
    assert(count() == rows)
    // MINOR-compaction semantics: a LONE fresh append waits (rewriting
    // one shard alone cannot improve pruning, and folding maintenance
    // outputs back in would rewrite O(lake) per trickle append); the
    // second append triggers a rewrite of exactly the fresh pair
    uniform(2000 until 2020).repartition(1)
      .write.format("geomedea").mode("append").save(dir)
    assert(Compact.incremental(spark, dir, numShards = 2, targetShardBytes = 1) == 0,
      "a lone fresh append must wait for a second, not fold the whole lake")
    uniform(3000 until 3020).repartition(1)
      .write.format("geomedea").mode("append").save(dir)
    val minor = Compact.incremental(spark, dir, numShards = 2, targetShardBytes = 1)
    assert(minor == 2, s"exactly the two fresh appends, got $minor")
    assert(count() == rows + 40)
    assert(Compact.incremental(spark, dir, numShards = 2, targetShardBytes = 1) == 0)
  }

  test("incremental compaction rewrites only the overspread appends and converges") {
    // clustered baseline: 4 shards, each owning a contiguous Hilbert
    // range (small extent vs the union)
    val dir = overlappingLake(4)
    Compact.compact(spark, dir, numShards = 4)
    def names() = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".geomedea")).toSet
    val clustered = names()
    appendGlobalSpread(dir)
    val rows = idsAt(dir)
    assert(rows.size == 140)
    // targetShardBytes = 1 disables the small-file criterion (tiny test
    // shards would otherwise all qualify); selection is purely extent
    // area vs the ideal per-shard share
    val picked = Compact.incremental(spark, dir, numShards = 2, targetShardBytes = 1)
    assert(picked == 3, s"exactly the three overspread appends, got $picked")
    assert(clustered.subsetOf(names()),
      "already-clustered shards must survive incremental compaction byte-untouched")
    assert(idsAt(dir) == rows)
    // pruning restored: a west rect plans a strict subset again (before
    // incremental, the 3 global appends survived every rect)
    val west = Envelope.fromDegrees(0, 0, 10, 10)
    assert(ContainerFormat.Geomedea.scanFiles(dir, Some(west)).size < names().size)
    // CONVERGED: the replacements own small Hilbert ranges now — repeated
    // maintenance calls are no-ops, never churn
    assert(Compact.incremental(spark, dir, numShards = 2, targetShardBytes = 1) == 0)
    assert(idsAt(dir) == rows)
  }

  test("auto shard sizing targets targetShardBytes; empty lake is a no-op") {
    val dir = overlappingLake(4)
    // tiny target -> many shards; huge target -> one shard
    val many = Compact.compact(spark, dir, targetShardBytes = 512)
    assert(many > 1)
    val one = Compact.compact(spark, dir, targetShardBytes = Long.MaxValue >> 1)
    assert(one == 1)
    assert(idsAt(dir).size == 80)
    val empty = java.nio.file.Files.createTempDirectory("gm_compact_e").toString
    assert(Compact.compact(spark, empty) == 0)
    assert(Compact.compact(spark, empty + "/missing") == 0)
    // a single-FILE path fails loudly instead of corrupting the file
    val f = java.nio.file.Files.createTempFile("gm_one", ".geomedea")
    java.nio.file.Files.write(f, GeomedeaFile.write(
      Seq(pt(1, 1, 1L)), compressed = true, pageSizeGoal = 256))
    val err = intercept[IllegalArgumentException](Compact.compact(spark, f.toString))
    assert(err.getMessage.contains("DIRECTORY"))
    // bad knobs fail with actionable messages, not ArithmeticException
    val err2 = intercept[IllegalArgumentException](
      Compact.compact(spark, dir, targetShardBytes = 0))
    assert(err2.getMessage.contains("targetShardBytes"))
  }

  test("compaction reads its pinned shards as one scan: no Union, exactly the picked files") {
    def shardBytes(dir: String): Map[String, Seq[Byte]] = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".geomedea"))
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    // full compaction pins every shard
    val dir = overlappingLake(6)
    val all = shardBytes(dir).keySet
    val rows = idsAt(dir)
    val full = PlansDuring(spark)(Compact.compact(spark, dir, numShards = 4))
    assert(assertOneScanOver(full, all) >= 1, "no container scan in the compaction plans")
    assert(idsAt(dir) == rows)

    // incremental pins only the picked appends; the clustered shards stay
    // byte-identical
    val clustered = shardBytes(dir)
    appendGlobalSpread(dir)
    val appended = shardBytes(dir).keySet -- clustered.keySet
    assert(appended.size == 3)
    val grown = idsAt(dir)
    var picked = 0
    val inc = PlansDuring(spark) {
      picked = Compact.incremental(spark, dir, numShards = 2, targetShardBytes = 1)
    }
    assert(picked == 3)
    assert(assertOneScanOver(inc, appended) >= 1, "no container scan in the incremental plans")
    val after = shardBytes(dir)
    clustered.foreach { case (name, bytes) =>
      assert(after.get(name).contains(bytes), s"unpicked shard $name was touched")
    }
    assert(appended.forall(n => !after.contains(n)))
    assert(idsAt(dir) == grown)
  }

  test("compaction of 0, 1 and 3 rows into 4 shards: same rows, disjoint descending ranges") {
    for (k <- Seq(0, 1, 3)) {
      val dir = java.nio.file.Files.createTempDirectory(s"gm_compact_small_$k").toString
      // one shard per row (an empty shard for 0 rows): overlapping appends
      val feats = (0 until k).map(i => Seq(pt(i * 40 - 50, i * 20 - 20, i.toLong)))
      for ((fs, f) <- (if (k == 0) Seq(Seq.empty[Feature]) else feats).zipWithIndex)
        java.nio.file.Files.write(java.nio.file.Paths.get(f"$dir/append-$f%02d.geomedea"),
          GeomedeaFile.write(fs, compressed = true, pageSizeGoal = 256))
      val before = idsAt(dir)
      assert(before.size == k)
      Compact.compact(spark, dir, numShards = 4)
      assert(idsAt(dir) == before, s"$k rows")
      // shards in partition order (one token, zero-padded partition ids):
      // every key of an earlier shard is above every key of a later one
      val ext = graft.jobs.Ingest.extent(spark.read.format("geomedea").load(dir))
      val perShard = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.endsWith(".geomedea")).sorted.toSeq
        .map(n => graft.jobs.Ingest.withHilbert(spark.read.format("geomedea").load(s"$dir/$n"), ext)
          .select("hilbert").collect().map(_.getLong(0)).toSeq)
        .filter(_.nonEmpty)
      assert(perShard.map(_.size).sum == k, s"$k rows: $perShard")
      perShard.sliding(2).foreach {
        case Seq(a, b) => assert(a.min > b.max, s"$k rows: $perShard")
        case _ => ()
      }
    }
  }

  test("compaction output is deterministic: equal shard bytes and masked manifests across runs") {
    import spark.implicits._
    import java.nio.file.{Files, Path => JPath}
    def copyLake(from: JPath): JPath = {
      val to = Files.createTempDirectory(s"${from.getFileName}_copy")
      val ls = Files.list(from)
      try ls.forEach { f =>
        require(Files.isRegularFile(f), s"unexpected lake entry $f")
        Files.copy(f, to.resolve(f.getFileName))
      } finally ls.close()
      to
    }
    def sha(f: JPath): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
    for (fmt <- Seq(ContainerFormat.Geomedea, ContainerFormat.FlatGeobuf)) {
      val lake = Files.createTempDirectory(s"${fmt.name}_determinism")
      // Hilbert ties by construction: a hot cell on a 0.01 deg grid whose
      // every point holds three features (distinct props, so their order
      // shows in the bytes), plus spread points far away
      for (a <- 0 until 4) {
        (0 until 300).map { i =>
          val id = (a * 1000 + i).toLong
          val (lng, lat) =
            if (i % 10 == 0) (100.0 + i % 7, 40.0 + i % 11)
            else (5.0 + (i / 3) % 10 * 0.01, 5.0 + (i / 30) % 10 * 0.01)
          (Wkb.write(Wkb.Pt((lng * 1e7).toInt, (lat * 1e7).toInt)),
            Seq(graft.sources.GeoJsonIngest.toCell("doc", PString(s"doc-$id")),
              graft.sources.GeoJsonIngest.toCell("id", PInt64(id))))
        }.toDF("wkb", "props")
          .repartition(2).write.format(fmt.name).mode("append").save(lake.toString)
      }
      val runs = Seq(copyLake(lake), copyLake(lake)).map { dir =>
        assert(Compact.compact(spark, dir.toString, numShards = 2, format = fmt.name) == 2)
        // a job of many tasks between the two compactions: the task ids
        // in the second run's shard names differ from the first's
        spark.sparkContext.parallelize(1 to 200, 200).count()
        val shards = Files.list(dir)
        val shas =
          try shards.toArray.map(_.asInstanceOf[JPath])
            .filter(_.getFileName.toString.endsWith(fmt.suffix)).map(sha).sorted.toSeq
          finally shards.close()
        val hdir = new org.apache.hadoop.fs.Path(dir.toString)
        val manifest = GeomedeaManifest.read(
          hdir.getFileSystem(spark.sessionState.newHadoopConf()), hdir).get
        (shas, manifest.values.map(_.copy(name = "part").line).toSeq.sorted)
      }
      assert(runs(0)._1.size == 2, fmt.name)
      assert(runs(0)._1 == runs(1)._1, s"${fmt.name}: shard bytes differ")
      assert(runs(0)._2 == runs(1)._2, s"${fmt.name}: masked manifest entries differ")
    }
  }
}
