package graft

import graft.table.InterleavedDocs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class StreamAndAggSpec extends AnyFunSuite {
  val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("native format -> streaming agg: readStream(geomedea) feeds a grouped aggregation") {
    // §2.9 closed in BOTH directions: shards stream IN through the
    // geomedea source and drive an ordinary streaming aggregation whose
    // final state equals the batch answer over the same lake
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val base = java.nio.file.Files.createTempDirectory("gm_rs_agg").toString
    val lake = s"$base/lake"
    def writeBatch(ids: Range): Unit =
      ids.map { i =>
        (graft.geom.Wkb.write(graft.geom.Wkb.Pt(i * 1000000, i * 500000)),
          Seq(graft.sources.GeoJsonIngest.toCell("id",
            graft.codec.FeatureCodec.PInt64(i.toLong))))
      }.toDF("wkb", "props")
        .repartition(2).write.format("geomedea").mode("append").save(lake)
    writeBatch(0 until 40)
    writeBatch(40 until 60)

    val counts = spark.readStream.format("geomedea").load(lake)
      .select((col("props")(0)("i") % 4).as("bucket"))
      .groupBy("bucket").count()
    val q = counts.writeStream.format("memory").queryName("gm_rs_agg")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("gm_rs_agg").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 15L, 1L -> 15L, 2L -> 15L, 3L -> 15L))
  }

  // shared fixture for the compaction-resume tests: a lake writer + an
  // AvailableNow foreachBatch runner that records each batch's row count
  private def compactionFixture(): (String, Range => Unit, () => Unit,
      java.util.concurrent.ConcurrentLinkedQueue[Long]) = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("gm_rw").toString
    val lake = s"$base/lake"
    def writeBatch(ids: Range): Unit =
      ids.map { i =>
        (graft.geom.Wkb.write(graft.geom.Wkb.Pt(i * 1000000, i * 500000)),
          Seq(graft.sources.GeoJsonIngest.toCell("id",
            graft.codec.FeatureCodec.PInt64(i.toLong))))
      }.toDF("wkb", "props")
        .repartition(2).write.format("geomedea").mode("append").save(lake)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def run(): Unit = {
      val q = spark.readStream.format("geomedea").load(lake)
        .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got.add(df.count()); ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    (lake, writeBatch, () => run(), got)
  }

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Seq.empty else t +: causes(t.getCause)

  test("caught-up stream RESUMES exactly-once across compaction; offsets stay O(live shards)") {
    // round 4 made compaction a stop-the-world for tailing streams (loud
    // rewrite error, fresh checkpoint required); the generation log lets
    // a stream that consumed the condemned shards recognize replacements
    // as rewrites of already-emitted rows and keep going
    val (lake, writeBatch, run, got) = compactionFixture()
    writeBatch(0 until 40)
    run()
    assert(got.asScala.sum == 40L)
    graft.jobs.Compact.compact(spark, lake, numShards = 1)
    run() // crosses generation 1: no error, nothing re-emitted
    assert(got.asScala.sum == 40L, s"stream re-emitted rows across compaction: $got")
    // post-compaction appends flow through the same checkpoint
    writeBatch(40 until 60)
    run()
    assert(got.asScala.sum == 60L, s"post-compaction append lost/duplicated: $got")
    // a second compaction folds the appends in; the stream survives again
    graft.jobs.Compact.compact(spark, lake, numShards = 1)
    writeBatch(60 until 70)
    run()
    assert(got.asScala.sum == 70L, s"second compaction broke resume: $got")
    // checkpoint offsets track (generation, LIVE shard names) — not every
    // shard ever: the newest offset file references exactly the live set
    val ckpt = new java.io.File(lake).getParent + "/ckpt/offsets"
    val newest = new java.io.File(ckpt).listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    val text = new String(java.nio.file.Files.readAllBytes(newest.toPath), "UTF-8")
    val live = new java.io.File(lake).listFiles().count(_.getName.endsWith(".geomedea"))
    val tracked = "\\.geomedea\"".r.findAllIn(text).size
    assert(tracked == live && live <= 3,
      s"offset must track the $live live shards only, found $tracked in: $text")
    assert(text.contains("\"gen\":2"), s"offset must carry the lake generation: $text")
  }

  test("streaming dedup: in-batch, cross-batch and cross-restart duplicates suppressed exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("gm_sd").toString
    val lake = s"$base/lake"
    val staged = s"$base/rows"
    def writeBatch(ids: Seq[Int]): Unit =
      ids.map { i =>
        (graft.geom.Wkb.write(graft.geom.Wkb.Pt(i * 1000000, i * 500000)),
          Seq(graft.sources.GeoJsonIngest.toCell("id",
            graft.codec.FeatureCodec.PInt64(i.toLong))))
      }.toDF("wkb", "props")
        .repartition(2).write.format("geomedea").mode("append").save(lake)
    def run(): Unit = {
      val q = spark.readStream.format("geomedea").load(lake)
        .select(col("props")(0)("i").as("id"))
        .dropDuplicates("id") // keyed state store, persists in the checkpoint
        .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(staged); ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def emitted(): Seq[Long] =
      spark.read.parquet(staged).collect().map(_.getLong(0)).toSeq

    writeBatch((0 until 30) ++ (0 until 10)) // dups inside the first run
    run()
    assert(emitted().sorted == (0L until 30L), s"first run: ${emitted().sorted}")
    writeBatch(0 until 30) // a whole duplicate batch, after a restart
    run()
    assert(emitted().size == 30, "restart re-emitted rows the state had seen")
    writeBatch((30 until 40) ++ (5 until 8)) // mixed new + old
    run()
    assert(emitted().sorted == (0L until 40L), s"mixed: ${emitted().sorted}")
  }

  test("caught-up stream RESUMES exactly-once across retirement; behind streams fail loudly") {
    // retention used to be out-of-band deletion = the rewrite error for
    // every tailing stream; Compact.retire records the deletion as a
    // generation with no replacements, so a stream that consumed the
    // retired shards keeps going
    val (lake, writeBatch, run, got) = compactionFixture()
    writeBatch(0 until 40)
    run()
    assert(got.asScala.sum == 40L)
    val victims = new java.io.File(lake).listFiles()
      .filter(_.getName.endsWith(".geomedea")).map(_.getName).sorted.take(1).toSet
    assert(graft.jobs.Compact.retire(spark, lake,
      s => victims(s.getPath.getName)) == 1)
    run() // crosses the retire generation: no error, nothing re-emitted
    assert(got.asScala.sum == 40L, s"stream re-emitted/err'd across retirement: $got")
    writeBatch(100 until 110)
    run()
    assert(got.asScala.sum == 50L, s"post-retirement append lost/duplicated: $got")

    // a stream that had NOT consumed the retired shard must still fail
    // loudly — its rows are gone, silence would be data loss
    val (lake2, writeBatch2, run2, got2) = compactionFixture()
    writeBatch2(0 until 20)
    run2()
    def names2() = new java.io.File(lake2).listFiles()
      .filter(_.getName.endsWith(".geomedea")).map(_.getName).toSet
    val consumed = names2()
    writeBatch2(20 until 40) // NOT yet consumed
    val fresh = (names2() -- consumed).take(1)
    assert(graft.jobs.Compact.retire(spark, lake2,
      s => fresh(s.getPath.getName)) == 1)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run2())
    assert(causes(e).exists(c => c.getMessage != null &&
      (c.getMessage.contains("condemn") || c.getMessage.contains("rewritten") ||
        c.getMessage.contains("consumed"))),
      s"expected a loud unconsumed-retirement error, got: ${e.getMessage}")
    assert(got2.asScala.sum == 20L)
  }

  test("compaction of shards a stream had NOT consumed still fails loudly, naming the fix") {
    // un-emitted rows now exist only mixed into replacement shards:
    // exactly-once resume is provably impossible and the source must say
    // so instead of re-emitting or losing rows
    val (lake, writeBatch, run, got) = compactionFixture()
    writeBatch(0 until 40)
    run()
    assert(got.asScala.sum == 40L)
    writeBatch(40 until 60) // appended but never consumed
    graft.jobs.Compact.compact(spark, lake, numShards = 1)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("not yet consumed")),
      s"expected a not-yet-consumed error, got: ${e.getMessage}")
    assert(got.asScala.sum == 40L, s"stream must not emit after the error: $got")
  }

  test("out-of-protocol rewrite (no generation record) still fails loudly") {
    val (lake, writeBatch, run, got) = compactionFixture()
    writeBatch(0 until 40)
    run()
    // retention/manual delete of a consumed shard: no generation explains
    // the missing name, so the source cannot prove exactly-once
    val dir = new java.io.File(lake)
    val victim = dir.listFiles().filter(_.getName.endsWith(".geomedea")).head
    assert(victim.delete())
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(causes(e).exists(c => c.getMessage != null && c.getMessage.contains("rewritten")),
      s"expected a rewrite-naming error, got: ${e.getMessage}")
    assert(got.asScala.sum == 40L)
  }

  test("truncate-overwrite of a previously compacted lake: fresh streams work again") {
    // regression: the generation log used to survive truncate-overwrite,
    // and snapshot() resurrected its recorded replacement names (deleted
    // by the truncate) as pending tracked files — every first batch of
    // every stream, even from a FRESH checkpoint, demanded names that
    // could never reappear, leaving the lake permanently unstreamable.
    // Truncate now clears the log: the lake restarts at generation 0.
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("gm_trunc").toString
    val lake = s"$base/lake"
    def docs(ids: Range) = ids.map { i =>
      (graft.geom.Wkb.write(graft.geom.Wkb.Pt(i * 1000000, i * 500000)),
        Seq(graft.sources.GeoJsonIngest.toCell("id",
          graft.codec.FeatureCodec.PInt64(i.toLong))))
    }.toDF("wkb", "props")
    docs(0 until 40).repartition(2).write.format("geomedea").mode("append").save(lake)
    graft.jobs.Compact.compact(spark, lake, numShards = 1)
    docs(100 until 110).write.format("geomedea").mode("overwrite").save(lake)
    assert(!new java.io.File(lake).listFiles()
      .exists(_.getName.startsWith("_generations")),
      "truncate must clear the generation log — it rewrites the lake outside the protocol")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("geomedea").load(lake)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.add(df.count()); ()
      }
      .option("checkpointLocation", s"$base/ckpt_fresh")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(got.asScala.sum == 10L,
      s"fresh stream over the truncated lake must emit exactly the new rows: $got")
  }

  test("streaming bbox planning: stale manifest entry (wrong length) never prunes a live shard") {
    // the batch planner only trusts a manifest that matches the live
    // files byte-for-byte; the streaming planner must hold the same bar.
    // A stale same-named entry with a wrong extent would otherwise prune
    // a fresh intersecting shard — and since offsets advance past pruned
    // names, those rows would be lost SILENTLY and FOREVER, the one
    // failure mode worse than a slow plan.
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.v2.GeomedeaManifest
    def mkLake(base: String): String = {
      val lake = s"$base/lake"
      (0 until 20).map { i =>
        (graft.geom.Wkb.write(graft.geom.Wkb.Pt(i * 1000000, i * 500000)),
          Seq(graft.sources.GeoJsonIngest.toCell("id",
            graft.codec.FeatureCodec.PInt64(i.toLong))))
      }.toDF("wkb", "props")
        .repartition(1).write.format("geomedea").mode("append").save(lake)
      lake
    }
    def streamCount(lake: String, ckpt: String): Long = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.format("geomedea")
        .option("bbox", "0,0,20000000,10000000").load(lake)
        .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got.add(df.count()); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      got.asScala.sum
    }
    def forge(lake: String, lenDelta: Long): Unit = {
      val p = new org.apache.hadoop.fs.Path(lake)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val far = GeomedeaManifest.read(fs, p).get.values.map(e => e.copy(
        len = e.len + lenDelta, minLng = 1790000000, minLat = 880000000,
        maxLng = 1800000000, maxLat = 890000000)).toSeq
      GeomedeaManifest.write(fs, p, far, "forge")
    }

    // wrong length -> the entry is invalid; the planner must fall back to
    // the shard's real header and KEEP it
    val a = java.nio.file.Files.createTempDirectory("gm_mfstale").toString
    val lakeA = mkLake(a)
    forge(lakeA, lenDelta = 7)
    assert(streamCount(lakeA, s"$a/ckpt") == 20L,
      "a wrong-length manifest entry must be ignored, not trusted into pruning")

    // correct length + far extent -> the entry IS consumed (proof the
    // fast path plans off the manifest): the shard prunes, batch is empty
    val b = java.nio.file.Files.createTempDirectory("gm_mfvalid").toString
    val lakeB = mkLake(b)
    forge(lakeB, lenDelta = 0)
    assert(streamCount(lakeB, s"$b/ckpt") == 0L,
      "a length-consistent manifest extent must drive streaming planning-time pruning")
  }

  test("streaming planning: a hand-copied shard leaves the manifest stale; every row still emits once") {
    // a shard copied in outside the writer leaves a manifest that no
    // longer matches the listing: the stream then plans its fresh shards
    // from their headers, as a batch scan of the lake does — with and
    // without the bbox option, across restarts from the same checkpoint
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.codec.FeatureCodec.{Feature, PInt64}
    import graft.sources.v2.{ContainerFormat, GeomedeaManifest}
    val base = java.nio.file.Files.createTempDirectory("gm_stale_copy").toString
    val lake = s"$base/lake"
    def pt(i: Int) = graft.geom.Wkb.Pt(i * 1000000, i * 500000)
    def append(ids: Range): Unit =
      ids.map(i => (graft.geom.Wkb.write(pt(i)),
        Seq(graft.sources.GeoJsonIngest.toCell("id", PInt64(i.toLong)))))
        .toDF("wkb", "props").repartition(2).write.format("geomedea").mode("append").save(lake)
    def copyIn(name: String, ids: Range): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(lake, name),
        graft.sources.GeomedeaFile.write(ids.map(i => Feature(pt(i), Vector("id" -> PInt64(i.toLong)))),
          compressed = true, pageSizeGoal = 256))
    def manifestValid(): Boolean = {
      val p = new org.apache.hadoop.fs.Path(lake)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      GeomedeaManifest.validated(fs, p, ContainerFormat.Geomedea.shards(fs, p)).isDefined
    }
    val emitted = Map(true -> new java.util.concurrent.ConcurrentLinkedQueue[Long](),
      false -> new java.util.concurrent.ConcurrentLinkedQueue[Long]())
    // ids 0..79 lie inside the rect, ids 100..119 outside it
    def run(bbox: Boolean): Unit = {
      val r = spark.readStream.format("geomedea")
      (if (bbox) r.option("bbox", "0,0,80000000,40000000") else r).load(lake)
        .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select(col("props")(0)("i")).collect().foreach(row => emitted(bbox).add(row.getLong(0)))
          ()
        }
        .option("checkpointLocation", s"$base/ckpt_$bbox")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def check(ids: Seq[Long]): Unit = {
      Seq(true, false).foreach(run)
      assert(emitted(false).asScala.toSeq.sorted == ids.sorted)
      assert(emitted(true).asScala.toSeq.sorted == ids.filter(_ < 100).sorted)
    }

    append(0 until 40)
    copyIn("copied-a.geomedea", 100 until 120)
    copyIn("copied-b.geomedea", 40 until 50)
    assert(!manifestValid())
    check((0 until 50).map(_.toLong) ++ (100 until 120).map(_.toLong))
    // the next commit's refresh covers the copies; a new copy makes the
    // manifest stale again, and only the new rows are emitted
    append(50 until 60)
    assert(manifestValid())
    copyIn("copied-c.geomedea", 60 until 80)
    assert(!manifestValid())
    check((0 until 80).map(_.toLong) ++ (100 until 120).map(_.toLong))
  }

  test("streaming -> native format: foreachBatch writes reference-format shards per batch") {
    // the streaming story composes with the distributed .geomedea writer:
    // readStream -> foreachBatch -> write.format("geomedea") appends
    // complete container shards per micro-batch, readable mid-stream by
    // the v2 source (tmp-rename publish = no partial files ever visible)
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_stream_gm").toString
    val docs = InterleavedDocs.withGeometry(InterleavedDocs.docs(spark, Sf))
    val src = docs.select(col("wkb"), col("doc_id")).as[(Array[Byte], String)]
      .map { case (wkb, id) =>
        (wkb, Seq(graft.sources.GeoJsonIngest.toCell(
          "doc", graft.codec.FeatureCodec.PString(id))))
      }.toDF("wkb", "props")
    src.repartition(2).write.parquet(s"$base/src")
    val q = spark.readStream
      .schema(spark.read.parquet(s"$base/src").schema)
      .option("maxFilesPerTrigger", "1") // several micro-batches
      .parquet(s"$base/src")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.format("geomedea").mode("append").save(s"$base/out"); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val back = spark.read.format("geomedea").load(s"$base/out")
    assert(back.count() == docs.count())
    assert(back.select(element_at(col("prop_vals"), 1)).distinct().count() == docs.count())
    // >= 2 shard files (one per micro-batch partition), none in-flight
    val files = new java.io.File(s"$base/out").listFiles.map(_.getName)
    assert(files.count(_.endsWith(".geomedea")) >= 2)
    assert(!files.exists(_.contains("_tmp_")))
  }
}
