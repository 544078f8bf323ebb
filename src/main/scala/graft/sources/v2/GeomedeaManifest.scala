package graft.sources.v2

import graft.geom.Envelope
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Extent/count manifest for a directory of `.geomedea` shards — the
  * format-level analog of the parquet `_lineage` manifest the ingest
  * side already keeps (`jobs/Ingest.scala`): one driver read replaces
  * per-file header round trips at PLANNING, so a 100k-shard lake plans a
  * query from one small file instead of 100k tiny range reads.
  *
  * Consistency model: advisory cache, never trusted blindly. The
  * planner ([[ContainerFormat.planFiles]]) validates that the manifest
  * covers EXACTLY the listed `.geomedea` files with matching byte
  * lengths and silently falls back to header reads otherwise — so
  * hand-copied files, partial manifests, or a crash between delete and
  * rename only cost the fallback, never correctness. The v2 writer
  * refreshes it on every job commit (including entries for pre-existing
  * files it didn't write, read from their 45-byte heads), published via
  * write-tmp + delete + rename (Hadoop rename does not overwrite).
  *
  * Line format (TSV): `name len count minLng minLat maxLng maxLat
  * [splits]` — the 8th column is optional (older manifests have 7) and
  * carries comma-separated absolute byte offsets where an intra-file
  * read may begin (the first is the data-section start), sampled by the
  * writers every ~`splitGranularity` bytes so the full-scan planner can
  * split one oversized shard into several input partitions the way
  * Parquet splits row groups. Advisory like the extents: the planner
  * only uses splits off a length-validated entry, sanity-checks the
  * monotone in-range shape, and a reader fed a misaligned offset fails
  * LOUDLY on the page framing — never silently wrong rows.
  * Empty shards (count 0) store their inverted empty envelope and map
  * to extent None, matching [[ContainerFormat.Geomedea.fileExtent]] semantics.
  */
object GeomedeaManifest {

  val FileName = "_manifest.tsv"

  final case class Entry(name: String, len: Long, count: Long,
                         minLng: Int, minLat: Int, maxLng: Int, maxLat: Int,
                         splits: Vector[Long] = Vector.empty) {
    def extent: Option[Envelope] =
      if (count == 0) None else Some(Envelope(minLng, minLat, maxLng, maxLat))
    def line: String = {
      val base = s"$name\t$len\t$count\t$minLng\t$minLat\t$maxLng\t$maxLat"
      if (splits.isEmpty) base else base + "\t" + splits.mkString(",")
    }
    /** Splits iff they have the only shape a valid boundary list can
      * have (strictly increasing, inside the file, ending before len);
      * anything else reads as empty — advisory data degrades to one
      * partition per file, never to a planning failure.
      */
    def validSplits: Vector[Long] =
      if (splits.nonEmpty && splits.head > 0 && splits.last < len &&
          splits.zip(splits.tail).forall { case (a, b) => a < b }) splits
      else Vector.empty
  }

  def entryOf(name: String, len: Long, count: Long, extent: Envelope,
              splits: Vector[Long] = Vector.empty): Entry =
    Entry(name, len, count, extent.minLng, extent.minLat, extent.maxLng, extent.maxLat,
      splits)

  /** The manifest iff it covers EXACTLY `files` (every listed shard by
    * name with a matching byte length, no extras) — the one rule for
    * trusting it, applied by the planning step batch scans and streams
    * share ([[ContainerFormat.planFiles]]) and by LakeHealth; anything
    * else means fall back to per-file header reads.
    */
  def validated(fs: FileSystem, dir: Path,
                files: Seq[org.apache.hadoop.fs.FileStatus]): Option[Map[String, Entry]] =
    validated(read(fs, dir), files)

  /** Overload for callers that already hold the raw read (LakeHealth —
    * one GET serves validity and candidate picking). ONE definition of
    * manifest validity: exact name + byte-length coverage of the listing.
    */
  def validated(raw: Option[Map[String, Entry]],
                files: Seq[org.apache.hadoop.fs.FileStatus]): Option[Map[String, Entry]] =
    raw.filter(m => m.size == files.size &&
      files.forall(f => m.get(f.getPath.getName).exists(_.len == f.getLen)))

  /** Commit-side refresh shared by both container writers: entries for
    * every live `format` shard — fresh ones from the job's commit
    * messages, pre-existing ones carried from the old manifest when the
    * byte length still matches, else re-read from their headers. BEST
    * EFFORT by contract: any failure (a corrupt foreign file failing
    * the self-heal read, a publish race) leaves the old/no manifest in
    * place and returns — the data is already published by the time this
    * runs, and a job commit must never fail over an advisory cache;
    * planning degrades to header reads until the next refresh.
    */
  def refresh(fs: FileSystem, dir: Path, format: ContainerFormat, fresh: Seq[Entry],
              token: String): Unit =
    try {
      val old = read(fs, dir).getOrElse(Map.empty[String, Entry])
      val freshByName = fresh.map(e => e.name -> e).toMap
      val entries = format.shards(fs, dir).map { s =>
        val name = s.getPath.getName
        freshByName.get(name)
          .orElse(old.get(name).filter(_.len == s.getLen))
          .getOrElse(format.headerEntry(fs, s))
      }
      write(fs, dir, entries, token)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** None when absent or unparseable (both mean: fall back to headers). */
  def read(fs: FileSystem, dir: Path): Option[Map[String, Entry]] = {
    val f = new Path(dir, FileName)
    try {
      if (!fs.exists(f)) return None
      val buf = new Array[Byte](fs.getFileStatus(f).getLen.toInt)
      val in = fs.open(f)
      try in.readFully(0, buf) finally in.close()
      val text = new String(buf, StandardCharsets.UTF_8)
      val entries = text.split('\n').iterator.filter(_.nonEmpty).map { line =>
        val p = line.split('\t')
        require(p.length == 7 || p.length == 8, s"bad manifest line: $line")
        val splits =
          if (p.length == 8 && p(7).nonEmpty)
            p(7).split(',').iterator.map(_.toLong).toVector
          else Vector.empty[Long]
        Entry(p(0), p(1).toLong, p(2).toLong, p(3).toInt, p(4).toInt, p(5).toInt, p(6).toInt,
          splits)
      }.toSeq
      Some(entries.map(e => e.name -> e).toMap)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Atomic-enough publish: tmp write, delete old, rename. A crash in
    * the window leaves no/stale manifest — the planner's validation
    * degrades that to the header-read fallback.
    */
  def write(fs: FileSystem, dir: Path, entries: Seq[Entry], token: String): Unit = {
    val tmp = new Path(dir, s"_manifest.tsv.tmp-$token")
    val out = fs.create(tmp, true)
    try out.write(entries.sortBy(_.name).map(_.line).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val fin = new Path(dir, FileName)
    if (fs.exists(fin)) fs.delete(fin, false)
    require(fs.rename(tmp, fin), s"failed to publish $FileName under $dir")
  }
}
