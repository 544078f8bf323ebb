package perfbench

import graft.table.InterleavedDocs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** What one run of one workload shares: the session, the tracer, its own
  * temp root, the seeded draw and the op accounting.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val root: String,
                val seed: Long, val seconds: Double, val cpus: Int) {
  val draw = new Gen.Draw(seed)
  var attempted = 0L
  var failed = 0L
  private var heapPeak = 0.0
  /** Wall time of every successful op, by op name. */
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  /** Root span ids of every op, by op name (traced runs only). */
  val opSpans: mutable.Map[String, mutable.ArrayBuffer[Int]] = mutable.Map.empty

  /** Run one op under its root span, timed; check its result outside the
    * timing. An exception or a wrong result counts as failed. Returns the
    * op's seconds when it succeeded.
    */
  def op[T](name: String)(body: => T)(check: T => Option[String]): Option[Double] = {
    attempted += 1
    tracer.newOp()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(s"op.$name")(body)) catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val verdict = res match {
      case Left(e) => Some(s"exception ${e.getClass.getName}: ${e.getMessage}")
      case Right(v) => try check(v) catch { case e: Exception => Some(s"check threw $e") }
    }
    verdict match {
      case Some(why) =>
        failed += 1
        System.err.println(s"[perfbench] op $name FAILED: $why")
        None
      case None =>
        samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs
        if (tracer.active) opSpans.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += tracer.lastRootId
        Some(secs)
    }
  }

  def times(name: String): Seq[Double] = samples.getOrElse(name, Nil).toSeq

  /** Median seconds of an op; NaN when every attempt failed. */
  def median(name: String): Double = {
    val xs = times(name)
    if (xs.isEmpty) Double.NaN else Stats.median(xs)
  }

  /** Heap in use right after a full collection; tracks the run's peak. */
  def sampleHeap(): Unit = {
    // the second collection also frees what Spark's cleaner released
    // after the first one (unreferenced broadcasts and shuffles)
    System.gc()
    Thread.sleep(50)
    System.gc()
    val mb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    heapPeak = math.max(heapPeak, mb)
  }
  def heapPeakMb: Double = heapPeak

  def dir(name: String): String = s"$root/$name"

  private val born = System.nanoTime()
  /** One progress line on stderr, with seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - born) / 1e9}%6.1fs $msg")

  def deadline: Long = System.nanoTime() + (seconds * 1e9).toLong
}

object Harness {

  def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def rmTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
  }

  /** Regular files under `path`, none when it does not exist. */
  def leftFiles(path: String): Seq[String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq.map(_.toString)
      finally s.close()
    }
  }

  def bytesUnder(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** The input table every workload reads: `documents.parquet`-shaped raw
    * rows for the run's seeded doc ids [idBase, idBase + n), in two files
    * per core, turned into the interleaved-doc table by
    * `InterleavedDocs.docs` and written to parquet once.
    */
  def writeDocs(ctx: Ctx, dir: String, n: Long): DataFrame = {
    val spark = ctx.spark
    val base = ctx.draw.idBase
    spark.range(base, base + n, 1, ctx.cpus * 2).select(
      col("id").as("doc_id"),
      concat(lit("synthetic doc body "), col("id").cast("string")).as("text"),
      lit("en").as("lang"),
      concat(lit("src"), (col("id") % 7).cast("string")).as("source"),
      lit(24).as("n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    InterleavedDocs.docs(spark, dir).write.parquet(s"$dir/docs")
    spark.read.parquet(s"$dir/docs")
  }

  /** Iterations of the host burn on each thread. */
  val BurnIters = 4000000L

  /** Same-thread host burn: the mix of short string allocation and curve
    * math the engine's hot loops have, on `threads` threads. Its time is
    * the in-record control for how fast the host is right now.
    */
  private val blackhole = new java.util.concurrent.atomic.AtomicLong()
  def burn(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var acc = 0L
        var i = t.toLong
        val end = t + BurnIters
        while (i < end) {
          val s = java.lang.Long.toHexString(i * 0x9E3779B97F4A7C15L | 1L)
          acc += graft.curve.Hilbert.index((i * 48271 & 0xFFFF).toInt, (i * 69621 & 0xFFFF).toInt)
          acc += s.length
          i += 1
        }
        blackhole.addAndGet(acc)
        ()
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
