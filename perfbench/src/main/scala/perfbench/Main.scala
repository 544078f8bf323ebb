package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM, with a single client.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --root <temp dir> [--out <trace dir>]
  *
  * Prints, as the last stdout line, one JSON object: `correct`,
  * `attempted`, `failed` and `metrics` — the end-to-end metrics untraced,
  * the per-layer metrics traced. A traced run also writes every span to
  * `<out>/trace-<workload>-<seed>.json`. Everything the run writes lives
  * under `--root`, which it deletes before it exits.
  */
object Main {

  val E2eUnits: Seq[(String, String)] = Seq(
    "docs_per_s" -> "docs/s", "op_p50_ms" -> "ms", "bytes_per_doc" -> "B/doc",
    "setup_s" -> "s", "heap_peak_mb" -> "MB")

  def layerUnit(name: String): String = name match {
    case n if n.endsWith("bytes_per_doc") => "B/doc"
    case n if n.contains("bytes") => "B"
    case "jobs.ingest.source_reads" => "reads/doc"
    case n if n.endsWith("_ns") || n.contains("_ns_per") => "ns"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_pct") => "%"
    case n if n.contains("_per_") || n.endsWith("_ratio") || n.endsWith("_share") => "ratio"
    case _ => "count"
  }

  /** A metric value as JSON; a value that is not a finite number, such
    * as the median of an op whose every attempt failed, prints as null.
    */
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  /** Drop in free space, after the run's root is deleted, beyond which the
    * run counts as having left data behind: several times the largest drop
    * seen in the baseline runs (1.5 MB).
    */
  val DiskNoiseMb = 8.0

  /** Native libraries (lz4, snappy, zstd) that codecs extract into the JVM
    * temp dir; they stay loaded, and on disk, until the JVM exits.
    */
  private val NativeLib = """.*\.(so|dll|dylib|jnilib)(\.lck)?""".r

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val wl = Workload.all.find(_.name == need("workload"))
      .getOrElse(sys.error(s"unknown workload ${need("workload")}; one of ${Workload.all.map(_.name).mkString(", ")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val root = need("root")
    val cpus = Runtime.getRuntime.availableProcessors()
    new java.io.File(root).mkdirs()
    val freeBefore = new java.io.File(root).getUsableSpace

    val burnS = Harness.burn(cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tracer = new Tracer(traced, spark)
    val ctx = new Ctx(spark, tracer, s"$root/data", seed, seconds, cpus)
    val result = try wl.run(ctx) finally tracer.close()
    ctx.sampleHeap()

    val kernels =
      if (!traced) Map.empty[String, Double]
      else {
        val d = new Gen.Draw(seed ^ 0x5DEECE66DL)
        Kernels.measure(spark, d.idBase, Workload.countyShapes(ctx), (0 until 256).map(_ => d.window()._1))
      }
    val spans = if (traced) tracer.spans else Nil
    spark.stop()
    // read before the root is deleted: what the run's data still occupies,
    // and whatever Spark's local dir and the JVM temp dir still hold now
    // that Spark has stopped
    val freeAtEnd = new java.io.File(root).getUsableSpace
    val rootPath = new java.io.File(root).getCanonicalPath
    val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath
    val left = (s"$rootPath/spark-local" +: Seq(tmpDir).filter(_.startsWith(rootPath))).flatMap(Harness.leftFiles)
      .filterNot(f => NativeLib.matches(new java.io.File(f).getName))
    Harness.rmTree(root)
    val freeAfter = new java.io.File(root).getParentFile.getUsableSpace
    val deltaMb = (freeAtEnd - freeBefore) / 1048576.0
    val lostMb = (freeBefore - freeAfter) / 1048576.0
    val leaked = left.nonEmpty || lostMb > DiskNoiseMb
    left.take(20).foreach(f => System.err.println(s"[perfbench] left behind after spark.stop(): $f"))
    if (lostMb > DiskNoiseMb)
      System.err.println(f"[perfbench] disk has $lostMb%.1f MB less free space after the run's root was deleted")

    val failedRatio = if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted
    val metrics =
      if (!traced) {
        val e2e = result.e2e + ("heap_peak_mb" -> ctx.heapPeakMb)
        E2eUnits.map { case (k, u) => (k, e2e(k), u) }
      } else {
        val all = Workload.LayerKeys.map(_ -> 0.0).toMap ++ result.layers ++ kernels ++ Map(
          "host.burn_s" -> burnS, "disk.free_delta_mb" -> deltaMb,
          "disk.leaked" -> (if (leaked) 1.0 else 0.0), "ops.failed_ratio" -> failedRatio)
        Workload.LayerKeys.map(k => (k, all(k), layerUnit(k)))
      }

    opts.get("out").filter(_ => traced).foreach { out =>
      new java.io.File(out).mkdirs()
      val self = Span.selfTimes(spans)
      val body = spans.map { s =>
        s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
          s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_ns": ${self(s.id)}}"""
      }.mkString("[\n", ",\n", "\n]")
      java.nio.file.Files.write(java.nio.file.Paths.get(out, s"trace-${wl.name}-$seed.json"),
        s"""{"workload": "${wl.name}", "seed": $seed, "metrics": ${metricsJson(metrics)}, "spans": $body}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    ctx.samples.toSeq.sortBy(_._1).foreach { case (op, xs) =>
      System.err.println(f"[perfbench] op $op%-14s n=${xs.size}%4d median=${Stats.median(xs.toSeq)}%.3fs " +
        f"min=${xs.min}%.3fs max=${xs.max}%.3fs  [${xs.take(40).map(x => f"$x%.2f").mkString(" ")}]")
    }
    System.err.println(f"[perfbench] ${wl.name} seed=$seed host.burn_s=$burnS%.3f " +
      f"disk.free_delta_mb=$deltaMb%.1f disk.lost_mb=$lostMb%.1f attempted=${ctx.attempted} failed=${ctx.failed}")
    val correct = ctx.failed == 0 && metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, """ +
      s""""metrics": ${metricsJson(metrics)}}""")
    System.out.flush()
  }
}
