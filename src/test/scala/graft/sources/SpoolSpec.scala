package graft.sources

import graft.codec.FeatureCodec.{Feature, PInt64}
import graft.geom.Wkb
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Temp-file hygiene of the one [[FeatureSpool]] core, for both formats:
  * no spill or body file outlives a commit, an abort, an abort after a
  * commit, or a commit whose destination refuses to open (the writer's
  * `MaxFileBytes` guard).
  */
class SpoolSpec extends AnyFunSuite {

  private val formats: Seq[(String, () => FeatureSpool)] = Seq(
    "geomedea" -> (() => new ShardSpool(compressed = true, pageSizeGoal = 256)),
    "flatgeobuf" -> (() => new FlatGeobuf.FgbSpool()))

  private def spoolFiles(): Set[String] = {
    val ls = java.nio.file.Files.list(FeatureSpool.spillDir())
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("graft-.*spool.*")).toSet
    finally ls.close()
  }

  private def filled(make: () => FeatureSpool): FeatureSpool = {
    val spool = make()
    (0 until 50).foreach(i =>
      spool.add(Feature(Wkb.Pt(i * 100000, -i * 100000), Vector("i" -> PInt64(i.toLong)))))
    spool
  }

  for ((name, make) <- formats)
    test(s"$name spool leaves no temp file after commit, delete, delete after commit, refused open") {
      val before = spoolFiles()
      def leftover(): Set[String] = spoolFiles() -- before

      val committed = filled(make)
      assert(leftover().nonEmpty, "an open spool's spill file is not in spillDir")
      val sink = new java.io.ByteArrayOutputStream()
      assert(committed.commit(_ => sink).totalBytes == sink.size.toLong)
      assert(leftover().isEmpty, "after commit")

      filled(make).delete()
      assert(leftover().isEmpty, "after delete")

      committed.delete()
      committed.delete()
      assert(leftover().isEmpty, "after delete following commit")

      val refused = filled(make)
      val e = intercept[IllegalArgumentException](refused.commit { total =>
        require(total <= 100, s"$total bytes > 100; repartition to more shards")
        sink
      })
      assert(e.getMessage.contains("repartition"))
      assert(leftover().isEmpty, "after a commit whose open threw")
      refused.delete()
      assert(leftover().isEmpty, "after delete following a failed commit")
    }
}
