package graft

import graft.jobs.{AsOf, Dedup, IntervalJoin, Media, Quantiles, Sessions, Similarity, Split, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline operators: dedup family, similarity search,
  * text analysis, multimodal plumbing.
  */
class PipelineOpsSpec extends AnyFunSuite {
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

  lazy val corpus: DataFrame = Dedup.corpusWithDups(spark, Sf).cache()
  lazy val embeddings: DataFrame =
    spark.read.parquet(s"$Sf/embeddings.parquet").select("vec_id", "embedding").cache()

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact dedup finds exactly the injected duplicate groups") {
    val nDocs = spark.read.parquet(s"$Sf/documents.parquet").count()
    val groups = Dedup.exact(corpus).collect()
    // every 5th doc injected as an exact duplicate; all base texts distinct
    assert(groups.length == (0L until nDocs).count(_ % 5 == 0))
    assert(groups.forall(_.getLong(1) == 2)) // n = 2 per group
    // canonical member is the original (min id)
    assert(groups.forall(_.getLong(2) < 1000000L))
  }

  test("ngram jaccard recovers every injected near-duplicate pair") {
    val got = pairs(Dedup.ngramJaccard(corpus, 6000))
    val nDocs = spark.read.parquet(s"$Sf/documents.parquet").count()
    val expectedNear = (0L until nDocs).filter(_ % 7 == 0).map(i => (i, i + 2000000L)).toSet
    val expectedExact = (0L until nDocs).filter(_ % 5 == 0).map(i => (i, i + 1000000L)).toSet
    assert(expectedNear.subsetOf(got), "near-dups (1 appended token) must clear jaccard 0.6")
    assert(expectedExact.subsetOf(got), "exact dups have jaccard 1.0")
  }

  test("DF cap: mass-duplicated boilerplate stays discoverable via anchor-star candidates") {
    val s = spark
    import s.implicits._
    // 30 near-identical boilerplate docs (every shingle hot under cap=5)
    // + 2 unrelated docs
    val boiler = (0 until 30).map(i => (i.toLong, "the same boilerplate text repeated again and again"))
    val other = Seq((100L, "completely different words here entirely"),
      (101L, "another unrelated document body of text"))
    val tiny = (boiler ++ other).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(tiny, 9000, maxShingleDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the anchor (doc 0) pairs with every other boilerplate doc: the
    // cluster is one connected component despite all shingles being hot
    assert((1 until 30).forall(i => pairs.contains((0L, i.toLong))), pairs.toSeq.sorted.take(10))
    assert(!pairs.exists(p => p._1 >= 100L || p._2 >= 100L))
    // and with the cap above all DFs the output equals the uncapped join
    val capped = Dedup.ngramJaccard(tiny, 9000, maxShingleDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == (0 until 30).combinations(2).map(c => (c(0).toLong, c(1).toLong)).toSet)

    // adversarial case: the GLOBAL min doc containing the hot boilerplate
    // is a long diverse doc (not a near-dup) — size-bucketed anchors must
    // anchor the cluster among ITS OWN members, not the diverse doc
    val diverse = (0L, (0 until 300).map(i => s"tok$i word$i item$i").mkString(" ") +
      " the same boilerplate text repeated again and again")
    val tiny2 = (Seq(diverse) ++ (1 until 31).map(i =>
      (i.toLong, "the same boilerplate text repeated again and again"))).toDF("doc_id", "text")
    val pairs2 = Dedup.ngramJaccard(tiny2, 9000, maxShingleDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 0 never passes the 0.9 threshold; docs 1..30 connect via their
    // own bucket's anchor (doc 1)
    assert((2 until 31).forall(i => pairs2.contains((1L, i.toLong))),
      pairs2.toSeq.sorted.take(10))
    assert(!pairs2.exists(p => p._1 == 0L || p._2 == 0L))
  }

  test("DF cap: near-dups straddling a size-bucket boundary connect via adjacent-bucket anchors") {
    val s = spark
    import s.implicits._
    // doc a: 8 words -> 6 distinct shingles -> bucket floor(log2(7)) = 2
    // doc b: a + 1 word -> 7 shingles      -> bucket floor(log2(8)) = 3
    // jaccard(a, b) = 6/7 = 0.857 >= 0.8 — a TRUE near-dup pair whose two
    // sides land in adjacent log2 buckets, with EVERY shared shingle hot
    // in both buckets (10 copies each side, cap 5): rarePairs is empty, so
    // only the +1-shifted anchor rows can connect the two halves
    val a = "w1 w2 w3 w4 w5 w6 w7 w8"
    val b = a + " w9"
    val docs = ((1 to 10).map(i => (i.toLong, a)) ++ (11 to 20).map(i => (i.toLong, b)))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccard(docs, 8000, maxShingleDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bucket-2's anchor (doc 1) must reach every bucket-3 doc
    assert((11 to 20).forall(i => got.contains((1L, i.toLong))), got.toSeq.sorted)
    // and the within-bucket stars are still there
    assert((2 to 10).forall(i => got.contains((1L, i.toLong))))
    assert((12 to 20).forall(i => got.contains((11L, i.toLong))))

    // MIRROR case: the hot pile sits only in the UPPER bucket and the
    // lone near-dup doc below it has rare shingle rows — rarePairs can't
    // form the pair (the pile side is anti-joined away), so only the
    // DOWN-shifted anchor row can bridge it
    val docs2 = (Seq((1L, a)) ++ (11 to 20).map(i => (i.toLong, b)))
      .toDF("doc_id", "text")
    val got2 = Dedup.ngramJaccard(docs2, 8000, maxShingleDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2.contains((1L, 11L)), got2.toSeq.sorted)
    assert((12 to 20).forall(i => got2.contains((11L, i.toLong))))
  }

  test("minhash LSH (verified) is a subset of true jaccard pairs and recovers injected dups") {
    val truth = pairs(Dedup.ngramJaccard(corpus, 6000))
    val lsh = pairs(Dedup.minhashLsh(corpus, 6000))
    assert(lsh.subsetOf(truth))
    val nDocs = spark.read.parquet(s"$Sf/documents.parquet").count()
    val injected = (0L until nDocs).filter(_ % 5 == 0).map(i => (i, i + 1000000L)).toSet ++
      (0L until nDocs).filter(_ % 7 == 0).map(i => (i, i + 2000000L)).toSet
    assert(injected.subsetOf(lsh), "32-hash/8-band LSH must catch jaccard >= 0.6 injected pairs")
    // recall on this corpus (deterministic): report-and-floor
    assert(lsh.size.toDouble / truth.size >= 0.95)
  }

  test("cluster: components equal brute force; long chains converge via pointer jumping") {
    import spark.implicits._
    // a 24-node CHAIN (diameter 23 — naive neighbor-min alone would need
    // 23 rounds), two triangles sharing a vertex, and singletons
    val edges = ((0L until 23L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (102L, 100L), (102L, 103L), (103L, 104L), (104L, 102L)))
    val pairsDf = edges.toDF("id_a", "id_b")
    val vertices = ((0L to 23L) ++ (100L to 104L) ++ Seq(900L, 901L))
    val corpusDf = vertices.toDF("doc_id")
    val got = Dedup.cluster(pairsDf, corpusDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // brute: union-find on the driver
    val parent = scala.collection.mutable.Map(vertices.map(v => v -> v): _*)
    def find(v: Long): Long = if (parent(v) == v) v else { val r = find(parent(v)); parent(v) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val mins = vertices.groupBy(find).map { case (_, vs) => vs.min -> vs }.toMap
    val expect = mins.flatMap { case (mn, vs) => vs.map(v => (v, mn, v == mn)) }.toSet
    assert(got == expect)
    // chain cluster is one component rooted at 0; triangles merge to 100
    assert(got.count(_._3) == mins.size)
    assert(got.filter(_._1 <= 23L).forall(_._2 == 0L))
    assert(got.filter(t => t._1 >= 100L && t._1 <= 104L).forall(_._2 == 100L))
  }

  test("cluster with a reliable checkpoint dir: identical output, snapshots on disk") {
    // r6: with sc.checkpointDir set, the loop-invariant edges and every
    // ReliableEvery-th round checkpoint RELIABLY (executor-loss-safe at
    // scale) instead of executor-locally; semantics must not move
    import spark.implicits._
    val edges = ((0L until 23L).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
    val pairsDf = edges.toDF("id_a", "id_b")
    val corpusDf = ((0L to 23L) ++ Seq(100L, 101L, 900L)).toDF("doc_id")
    val plain = Dedup.cluster(pairsDf, corpusDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ck").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    try {
      val reliable = Dedup.cluster(pairsDf, corpusDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(reliable == plain)
      // the 23-chain needs > ReliableEvery rounds, so at least one round
      // (plus the edge set) must have snapshotted reliably
      val snaps = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(snaps > 0, s"no reliable checkpoint files under $ckpt")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("simhash chunk-blocked pairs equal brute-force hamming join") {
    val blocked = Dedup.simhashPairs(corpus, 3).select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    val brute = Dedup.simhashBrute(corpus, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    assert(blocked == brute)
    // exact duplicates have hamming 0
    assert(blocked.exists { case (a, b, h) => b == a + 1000000L && h == 0L })

    // identical-hash pile (the round-2 residual hot-chunk case): 25 docs
    // with the SAME simhash still equal brute force, and the candidate
    // join saw one representative, not 25^2 collision rows
    val s = spark
    import s.implicits._
    val pile = ((0 until 25).map(i => (i.toLong, "same tiny doc")) ++
      Seq((100L, "another doc body entirely"), (101L, "third unrelated text here")))
      .toDF("doc_id", "text")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    val pb = setOf(Dedup.simhashPairs(pile, 3))
    assert(pb == setOf(Dedup.simhashBrute(pile, 3)))
    assert(pb.count { case (a, b, h) => a < 25 && b < 25 && h == 0L } == 25 * 24 / 2)
  }

  test("LSH ANN recall vs brute-force top-k") {
    val q = embeddings.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val brute = Similarity.bruteTopK(embeddings, q, 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(radius: Int): Double = {
      val ann = Similarity.lshTopK(embeddings, q, 5, 64, numPlanes = 4, probeRadius = radius)
        .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute intersect ann).size.toDouble / brute.size
    }
    // the multiprobe radius is the recall/cost dial; assert the ladder
    val r2 = recallAt(2); val r3 = recallAt(3)
    info(s"ANN recall@5: radius2 = $r2, radius3 = $r3")
    assert(r2 >= 0.7, s"radius-2 recall $r2 below floor")
    assert(r3 >= 0.9, s"radius-3 recall $r3 below floor")
    assert(r3 >= r2)
    // the DEFAULT radius must sit at or above the 0.9 quality bar — anyone
    // taking defaults on the approximate path must not silently lose >10%
    val annDefault = Similarity.lshTopK(embeddings, q, 5, 64, numPlanes = 4)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rDefault = (brute intersect annDefault).size.toDouble / brute.size
    info(s"ANN recall@5 at DEFAULT radius: $rDefault")
    assert(rDefault >= 0.9, s"default-radius recall $rDefault below the 0.9 floor")
  }

  test("IVF codebook training sample is hard-capped, never corpus-proportional") {
    // sampleEvery=1 admits every row; the cap must still bound the collect
    val capped = Similarity.trainSample(embeddings, sampleEvery = 1, maxTrainRows = 37)
    assert(capped.length <= 37, s"cap violated: ${capped.length}")
    assert(capped.length >= 16, "cap must still feed nLists=16 centroids")
    // and exactness at nProbe = nLists holds REGARDLESS of codebook quality
    val q = embeddings.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val brute = Similarity.bruteTopK(embeddings, q, 3)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(embeddings, q, 3, 64, nLists = 16, nProbe = 16,
        maxTrainRows = 37)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == brute)
  }

  test("IVF top-k: exact when probing all lists; recall/cost ladder below") {
    val q = embeddings.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val brute = Similarity.bruteTopK(embeddings, q, 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def ivf(nProbe: Int): Set[(Long, Long)] =
      Similarity.ivfTopK(embeddings, q, 5, 64, nLists = 16, nProbe = nProbe)
        .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf(16) == brute) // all lists probed => exact
    val r4 = (brute intersect ivf(4)).size.toDouble / brute.size
    val r8 = (brute intersect ivf(8)).size.toDouble / brute.size
    info(s"IVF recall@5: nProbe4 = $r4, nProbe8 = $r8")
    assert(r4 >= 0.5 && r8 >= r4, s"r4=$r4 r8=$r8")
  }

  test("cosinePairs grid blocking EQUALS brute force (guaranteed-recall candidates)") {
    val brute = Similarity.cosinePairs(embeddings, 4000, 64, bruteForce = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val blocked = Similarity.cosinePairs(embeddings, 4000, 64, bruteForce = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked == brute)
    assert(brute.nonEmpty)
    // tighter threshold => tighter cells, still exact
    val brute9 = Similarity.cosinePairs(embeddings, 9000, 64, bruteForce = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val blocked9 = Similarity.cosinePairs(embeddings, 9000, 64, bruteForce = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked9 == brute9)
  }

  test("text stats are consistent") {
    val all = TextOps.stats(corpus).cache()
    assert(all.where(col("n_distinct") > col("n_tokens")).count() == 0)
    assert(all.where(col("distinct_ratio_x10000") > 10000).count() == 0)
    // n_chars recomputation agrees with the source table's n_chars column
    val src = spark.read.parquet(s"$Sf/documents.parquet").select(col("doc_id"), col("n_chars").as("n_chars_src"))
    assert(all.join(src, "doc_id").where(col("n_chars") =!= col("n_chars_src")).count() == 0)
    // langid emits a prediction for every row
    assert(TextOps.langId(corpus).where(col("lang_pred").isNull).count() == 0)
  }

  test("tfidf top terms equal a brute single-process recomputation") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet").select("doc_id", "text")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)
    val tf = rows.flatMap { case (id, t) => toks(t).map((id, _)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = rows.length.toDouble
    val expected = tf.toSeq.map { case ((id, term), f) =>
      val score = f * math.round(math.log(n / df(term)) * 1000)
      (id, term, f, df(term), score)
    }.groupBy(_._1).flatMap { case (id, ts) =>
      ts.sortBy(t => (-t._5, t._2)).take(3).zipWithIndex.map { case ((_, term, f, d, sc), i) =>
        (id, (i + 1).toLong, term, f, d, sc)
      }
    }.toSet
    val got = TextOps.tfidfTop(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("exact group quantiles equal a brute sorted pick; singleton and tie groups") {
    val s = spark
    import s.implicits._
    val ev = spark.read.parquet(s"$Sf/events.parquet")
    val ps = Seq(1, 50, 90, 99, 100)
    val got = Quantiles.exact(ev, Seq("event_type"), "value", ps).collect()
      .map(r => r.getString(0) -> (r.getLong(1), ps.indices.map(i => r.getDouble(2 + i))))
      .toMap
    val brute = ev.select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
      .map { case (g, rows) =>
        val sorted = rows.map(_._2).sorted
        g -> (sorted.length.toLong,
          ps.map(p => sorted(((sorted.length.toLong * p + 99) / 100).toInt - 1)))
      }
    assert(got.keySet == brute.keySet && got.keySet.nonEmpty)
    for (g <- got.keySet) assert(got(g) == brute(g), s"group $g")
    // singleton group: every percentile IS the element; ties: the ranked
    // element is well defined even when row order among equals is not
    val tiny = Seq(("a", 7.0), ("b", 1.0), ("b", 1.0), ("b", 2.0)).toDF("g", "value")
    val t = Quantiles.exact(tiny, Seq("g"), "value", Seq(1, 50, 100)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(t("a") == ((1L, 7.0, 7.0, 7.0)))
    assert(t("b") == ((3L, 1.0, 1.0, 2.0)))
    intercept[IllegalArgumentException](Quantiles.exact(tiny, Seq("g"), "value", Seq(0)))
  }

  test("quantiles: NULLs ignored like SQL aggregates; collision guards fail loudly") {
    val s = spark
    import s.implicits._
    // NULL values never rank, never count, never get selected; an
    // all-NULL group stays in the output with n=0 and NULL percentiles.
    val withNulls = Seq(
      ("a", Some(2.0)), ("a", None), ("a", Some(1.0)), ("a", Some(3.0)),
      ("b", None), ("b", None)).toDF("g", "value")
    val q = Quantiles.exact(withNulls, Seq("g"), "value", Seq(1, 50, 100))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), (2 to 4).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i)))))
      .toMap
    assert(q("a") == ((3L, Seq(Some(1.0), Some(2.0), Some(3.0)))))
    assert(q("b") == ((0L, Seq(None, None, None))))
    // caller columns named like the temp rank/count columns are preserved
    val clash = Seq(("a", 1.0, 9L), ("a", 2.0, 9L)).toDF("g", "value", "__rn")
    val c = Quantiles.exact(clash, Seq("g"), "value", Seq(50)).collect()
    assert(c.head.getLong(1) == 2L && c.head.getDouble(2) == 1.0)
    // output-name collisions are rejected, not silently duplicated
    intercept[IllegalArgumentException](
      Quantiles.exact(Seq((1L, 1.0)).toDF("n", "value"), Seq("n"), "value", Seq(50)))
    intercept[IllegalArgumentException](
      Quantiles.exact(clash, Seq("g"), "value", Seq(50, 50)))
  }

  test("as-of join equals brute force on events; closed <=, null no-match, dup-time determinism") {
    val s = spark
    import s.implicits._
    val ev = spark.read.parquet(s"$Sf/events.parquet")
    val p = ev.where(col("event_type") === "purchase").select("event_id", "user_id", "ts")
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"), col("value"))
    def micros(r: org.apache.spark.sql.Row, i: Int): Long = {
      val dt = r.getAs[java.time.LocalDateTime](i)
      dt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + dt.getNano / 1000L
    }
    val clicks = c.collect().map(r => (r.getLong(0), micros(r, 1), r.getLong(2)))
    val brute = p.collect().map { r =>
      val (eid, uid, t) = (r.getLong(0), r.getLong(1), micros(r, 2))
      val best = clicks.filter(x => x._1 == uid && x._2 <= t)
      eid -> (if (best.isEmpty) -1L else best.maxBy(x => (x._2, x._3))._3)
    }.toMap
    assert(brute.nonEmpty && brute.valuesIterator.exists(_ >= 0L))
    val got = AsOf.join(p, c, "user_id", "ts", "ts", Seq("click_id", "value"))
      .select(col("event_id"), col("asof.click_id"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == brute)

    // synthetic edges on a plain long time axis: a right row AT the left
    // time matches (closed <=); a left row before any right row gets
    // NULL; duplicate (key, time) right rows resolve to the max payload
    val left = Seq((1L, 10L), (2L, 5L), (3L, 20L), (4L, 0L))
      .toDF("id", "t")
    val right = Seq((1L, 10L, 100L), (1L, 9L, 90L), (2L, 6L, 60L),
        (3L, 15L, 150L), (3L, 15L, 151L))
      .toDF("key", "t", "v")
      .withColumnRenamed("key", "id")
    val out = AsOf.join(left, right, "id", "t", "t", Seq("v"))
      .select(col("id"), col("asof.v"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out == Map(1L -> 100L, 2L -> -1L, 3L -> 151L, 4L -> -1L))
  }

  test("as-of time-slice escape equals the single-window plan, incl. one 50% hot key") {
    val s = spark
    import s.implicits._
    // r6 (verdict item 8): sliceWidth > 0 range-partitions the TIME axis
    // so a pathological key spreads over slices; output must be identical
    val ev = spark.read.parquet(s"$Sf/events.parquet")
    val p = ev.where(col("event_type") =!= "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"), col("value"))
    def key(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("event_id"), col("asof.click_id"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val base = key(AsOf.join(p, c, "user_id", "ts", "ts", Seq("click_id", "value")))
    // slice at ~6h of micros: many slices over the event range
    val stitched = key(AsOf.join(p, c, "user_id", "ts", "ts",
      Seq("click_id", "value"), sliceWidth = 21600L * 1000000L))
    assert(stitched == base)
    // hot key: ONE key holds 50% of all rows on a plain long axis; slices
    // cut it into 10 ranges. Include carry-across-empty-slice shapes
    // (left rows in slices with no right rows) and equal-time ties.
    val hotL = (0L until 500L).map(i => (1L, i * 7L)) ++
      (0L until 500L).map(i => (i % 37L + 2L, i * 11L))
    val hotR = (0L until 100L).map(i => (1L, i * 31L, i)) ++
      (0L until 200L).map(i => (i % 37L + 2L, i * 13L, 1000L + i))
    val lDf = hotL.toDF("id", "t")
    val rDf = hotR.toDF("id", "t", "v")
    def keyedBy(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("id"), col("t"), col("asof.v"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val hb = keyedBy(AsOf.join(lDf, rDf, "id", "t", "t", Seq("v")))
    val hs = keyedBy(AsOf.join(lDf, rDf, "id", "t", "t", Seq("v"), sliceWidth = 350L))
    assert(hs == hb)
    // brute check of the hot key itself
    val brute = hotL.filter(_._1 == 1L).map { case (_, t) =>
      val best = hotR.filter(x => x._1 == 1L && x._2 <= t)
      (1L, t, if (best.isEmpty) -1L else best.maxBy(x => (x._2, x._3))._3)
    }.toSet
    assert(hs.filter(_._1 == 1L) == brute)
  }

  test("point-in-interval join equals brute theta join; bucket/boundary edge matrix") {
    val s = spark
    import s.implicits._
    // real events x overlapping 3-day windows (each event in up to 3)
    val ev = spark.read.parquet(s"$Sf/events.parquet")
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("t"))
    val k = col("n_nationkey").cast("long")
    val start = lit(1704067200000000L) + k * 86400000000L
    val win = spark.read.parquet(s"$Sf/nation.parquet")
      .select(k.as("window_id"), start.as("w_start"), (start + 3L * 86400000000L).as("w_end"))
    val got = IntervalJoin.pointInInterval(ev, "t", win, "w_start", "w_end", 86400000000L)
      .select("event_id", "window_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = ev.crossJoin(win)
      .where(col("t") >= col("w_start") && col("t") <= col("w_end"))
      .select("event_id", "window_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size, "each (point, interval) pair exactly once")
    assert(got.toSet == brute.toSet)
    assert(got.nonEmpty)
    assert(got.groupBy(_._1).exists(_._2.size > 1), "overlap must be exercised")

    // synthetic edge matrix, width 50: closed boundaries both ends, point
    // on a bucket boundary, negative times, zero-length + inverted
    // intervals, an interval straddling zero
    val pts = Seq((1L, 0L), (2L, 10L), (3L, 100L), (4L, -100L), (5L, 99L), (6L, -1L))
      .toDF("pid", "t")
    val ivs = Seq(
      (10L, 0L, 10L), (11L, 95L, 100L), (12L, -150L, -100L),
      (13L, 7L, 7L), (14L, 50L, 20L), (15L, -1L, 0L))
      .toDF("iid", "s", "e")
    val out = IntervalJoin.pointInInterval(pts, "t", ivs, "s", "e", 50L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == out.toSet.size)
    assert(out.toSet == Set((1L, 10L), (2L, 10L), (3L, 11L), (5L, 11L),
      (4L, 12L), (1L, 15L), (6L, 15L)))

    // exact bucketing past 2^53 (nano-scale epochs round in double
    // division) and at the long extremes (floorDiv must not wrap)
    val big = 1700000000000000000L // ~2023 in nanos, > 2^53
    val nsDay = 86400000000000L
    val bigPts = Seq((1L, big), (2L, big + nsDay), (3L, Long.MinValue), (4L, Long.MaxValue))
      .toDF("pid", "t")
    val bigIvs = Seq((10L, big - 1L, big + 1L), (11L, Long.MinValue, Long.MinValue + 10L),
        (12L, Long.MaxValue - 10L, Long.MaxValue))
      .toDF("iid", "s", "e")
    val bigOut = IntervalJoin.pointInInterval(bigPts, "t", bigIvs, "s", "e", nsDay)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bigOut == Set((1L, 10L), (3L, 11L), (4L, 12L)))

    // sentinel open end fails LOUDLY instead of a cryptic sequence error
    val sentinel = Seq((20L, 0L, Long.MaxValue)).toDF("iid", "s", "e")
    val ex = intercept[Exception] {
      IntervalJoin.pointInInterval(pts, "t", sentinel, "s", "e", 50L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("widen bucketWidth")), msgs(ex).mkString(" | "))
    // reserved internal column rejected
    intercept[IllegalArgumentException] {
      IntervalJoin.pointInInterval(pts.withColumn("__bucket", lit(1)), "t", ivs, "s", "e", 50L)
    }
  }

  test("capped per-group sample equals a brute md5-order pick; deterministic under repartition") {
    val ev = spark.read.parquet(s"$Sf/events.parquet").select("event_type", "event_id")
    def hash60(key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft:$key".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val k = 7
    val rows = ev.collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (t, g) =>
      g.map(_._2).sortBy(id => (hash60(id.toString), id.toString))
        .take(k).zipWithIndex.map { case (id, i) => (t, id, (i + 1).toLong) }
    }.toSet
    val capped = Split.cappedPerGroup(ev, "event_type", col("event_id"), "graft", k)
    val plan = capped.queryExecution.executedPlan.toString
    // count "Exchange hashpartitioning" (SURVEY.md's wording of the ONE-
    // exchange guarantee), not the bare substring — a future Broadcast/
    // Reused exchange node would otherwise fail this without any actual
    // shuffle regression (ADVICE r5)
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1, plan)
    val got = capped.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected && got.nonEmpty)
    // every group is capped at k but small groups keep all their rows
    val perGroup = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perGroup.values.forall(_ <= k))
    // stability under repartition
    val again = Split.cappedPerGroup(ev.repartition(7), "event_type", col("event_id"), "graft", k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == got)
    // cap larger than any group keeps everything, rank stays 1-based dense
    val all = Split.cappedPerGroup(ev, "event_type", col("event_id"), "graft", 1000000)
      .collect()
    assert(all.length == rows.length)
    intercept[IllegalArgumentException](
      Split.cappedPerGroup(ev, "event_type", col("event_id"), "graft", 0))
  }

  test("split: exact md5 assignment matches JVM recomputation; deterministic under repartition") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet").select("doc_id")
    val got = Split.assign(docs, "doc_id", "graft").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def bucket(key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft:$key".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 10000
    }
    got.foreach { case (id, b, sp) =>
      val eb = bucket(id.toString)
      assert(b == eb, s"doc $id")
      assert(sp == (if (eb < 8000) "train" else if (eb < 9000) "val" else "test"), s"doc $id")
    }
    val sizes = got.groupBy(_._3).view.mapValues(_.size).toMap
    assert(sizes.getOrElse("train", 0) > got.length * 7 / 10)
    assert(sizes.getOrElse("val", 0) > 0 && sizes.getOrElse("test", 0) > 0)
    // stability: a reshuffled rerun never moves a row
    val again = Split.assign(docs.repartition(7), "doc_id", "graft").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(again == got.toSet)
    // invalid basis points fail loudly
    intercept[IllegalArgumentException](Split.assign(docs, "doc_id", "x", 9000, 2000))
    // NULL keys get NULL bucket + NULL split (SQL semantics), never a
    // silent shared assignment
    val s2 = spark
    import s2.implicits._
    val withNull = Seq(Some(1L), None, Some(2L)).toDF("doc_id")
    val nr = Split.assign(withNull, "doc_id", "graft")
      .collect().map(r => (r.isNullAt(0), r.isNullAt(1), r.isNullAt(2)))
    assert(nr.count(t => t._1 && t._2 && t._3) == 1)
    assert(nr.count(t => !t._1 && !t._2 && !t._3) == 2)
  }

  test("fingerprints: deterministic, order-sensitive, dup-preserving") {
    val fp = TextOps.fingerprints(corpus)
    // pair each ORIGINAL doc with its exact duplicate (id + 1_000_000);
    // restrict the left side to originals so near-dup ids don't alias in
    val joined = fp.as("a").join(fp.as("b"),
      col("a.doc_id") < 1000000L && col("a.doc_id") + 1000000L === col("b.doc_id"))
    // exact duplicate docs share both fingerprints
    assert(joined.where(col("a.fp") =!= col("b.fp")).count() == 0)
    assert(joined.where(col("a.min_shingle_fp") =!= col("b.min_shingle_fp")).count() == 0)
    // order sensitivity of the rolling hash
    val x = graft.expr.Adapters.fingerprint(org.apache.spark.unsafe.types.UTF8String.fromString("a b"))
    val y = graft.expr.Adapters.fingerprint(org.apache.spark.unsafe.types.UTF8String.fromString("b a"))
    assert(x != y)
  }

  test("media resize + frame sampling: deterministic shapes, budgets, oracle arithmetic") {
    val media = graft.jobs.Media.mediaTable(spark, Sf)
    // frame sampling: only videos, stride-3 indices, count arithmetic
    val frames = graft.jobs.Media.frameSample(media, everyN = 3).collect()
    assert(frames.nonEmpty && frames.forall(_.frame_idx % 3 == 0))
    val videos = media.where(col("media_type") === "video")
      .select("doc_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload").length).toMap
    val byDoc = frames.groupBy(_.doc_id)
    assert(byDoc.keySet == videos.keySet)
    byDoc.foreach { case (id, fs) =>
      val chunks = (videos(id) + 255) / 256
      assert(fs.length == (chunks + 2) / 3, s"doc $id")
    }
    // repartitioning does not change the frame set (checksums included)
    val frames2 = graft.jobs.Media.frameSample(
      media.repartition(7, col("doc_id")), everyN = 3).collect()
    assert(frames.map(f => (f.doc_id, f.frame_idx, f.n_bytes, f.checksum)).toSet ==
      frames2.map(f => (f.doc_id, f.frame_idx, f.n_bytes, f.checksum)).toSet)
  }

  test("batch sessionize equals a brute per-key gap walk; gap boundary is strict >") {
    val s = spark
    import s.implicits._
    val ev = spark.read.parquet(s"$Sf/events.parquet")
    val got = Sessions.sessionize(ev, "user_id", "ts", gapSeconds = 1800)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val brute = ev.select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).flatMap { case (u, rows) =>
        val ts = rows.map(_._2).sorted
        var sid = 0L; var prev = Long.MinValue
        val tagged = ts.map { t =>
          if (prev == Long.MinValue || t - prev > 1800000000L) sid += 1
          prev = t; (sid, t)
        }
        tagged.groupBy(_._1).map { case (id, g) =>
          (u, id) -> (g.map(_._2).min, g.map(_._2).max, g.length.toLong)
        }
      }
    assert(got.nonEmpty && got == brute)
    // strict-> boundary: a gap of EXACTLY gapSeconds stays one session;
    // one microsecond more splits. Duplicate timestamps share a session.
    val tiny = Seq((1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:30:00"),
      (1L, "2024-01-01 01:00:00.000001"), (2L, "2024-01-01 00:00:00"),
      (2L, "2024-01-01 00:00:00"))
      .toDF("user_id", "raw").select(col("user_id"), col("raw").cast("timestamp").as("ts"))
    val t = Sessions.sessionize(tiny, "user_id", "ts", gapSeconds = 1800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(t == Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 2L)))
    intercept[IllegalArgumentException](Sessions.sessionize(tiny, "user_id", "ts", 0))
  }

  test("sessionize is session-timezone independent on naive timestamps") {
    // r6 hardening: NTZ/string wall times measure against the NTZ epoch,
    // so a non-UTC session zone cannot shift the micros (r5 cast routed
    // them through spark.sql.session.timeZone)
    val ev = spark.read.parquet(s"$Sf/events.parquet")
    def run(): Set[(Long, Long, Long, Long, Long)] =
      Sessions.sessionize(ev, "user_id", "ts", gapSeconds = 1800).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    val base = run()
    val original = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try assert(run() == base, "session TZ leaked into sessionization micros")
    finally spark.conf.set("spark.sql.session.timeZone", original)
  }

  test("bm25 top-k equals a brute single-process recomputation") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet").select("doc_id", "text")
    val terms = Seq("spark", "join", "vector")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)
    val dls = rows.map { case (id, t) => id -> toks(t).length.toLong }.toMap
    val n = rows.length.toDouble
    val avgdl = dls.values.sum.toDouble / rows.length
    val tf = rows.flatMap { case (id, t) => toks(t).filter(terms.contains).map((id, _)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val dfm = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val scored = tf.toSeq.map { case ((id, term), f) =>
      val idf = math.round(math.log((n - dfm(term) + 0.5) / (dfm(term) + 0.5) + 1.0) * 1000)
      val tfn = math.round(1000.0 * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dls(id) / avgdl)))
      (id, idf * tfn)
    }.groupBy(_._1).map { case (id, xs) => (id, xs.map(_._2).sum, xs.length.toLong) }
    val expected = scored.toSeq.sortBy(x => (-x._2, x._1)).take(20)
    val got = TextOps.bm25Top(docs, terms, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected && got.nonEmpty)
    intercept[IllegalArgumentException](TextOps.bm25Top(docs, Seq.empty, 5))
    intercept[IllegalArgumentException](TextOps.bm25Top(docs, terms, 0))
  }

  test("decontamination equals a brute cross-set n-gram intersection") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet").select("doc_id", "text")
    val n = 8
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)
    def grams(t: String): Seq[String] =
      toks(t).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val benchGrams = rows.filter(_._1 % 20 == 0).flatMap(g => grams(g._2)).toSet
    val expected = rows.filter(_._1 % 20 != 0)
      .map { case (id, t) => id -> grams(t).distinct.count(benchGrams.contains).toLong }
      .filter(_._2 > 0).sortBy(_._1).toSeq
    val result = TextOps.contaminated(docs, col("doc_id") % 20 === 0, n)
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan) // bench grams broadcast
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan)
    val got = result.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == expected && got.nonEmpty)
    // benchmark rows never appear in the output even when they self-match
    assert(got.forall(_._1 % 20 != 0))
    // short-doc guard: a doc below n tokens contributes no grams and no crash
    import spark.implicits._
    val tiny = Seq((0L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "too short"), (3L, "unrelated words entirely here nothing shared at all ok"),
      (5L, null.asInstanceOf[String])) // NULL text contributes no grams on either side
      .toDF("doc_id", "text")
    val t = TextOps.contaminated(tiny, col("doc_id") % 2 === 0, n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(t == Seq((1L, 2L))) // two 8-grams of the 9-token twin match doc 0
    intercept[IllegalArgumentException](TextOps.contaminated(tiny, col("doc_id") === 0, 0))
  }

  test("repetition quality scores equal a brute recomputation with no shuffle") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet").select("doc_id", "text")
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)
    def dupMilli(xs: Seq[String]): Long =
      if (xs.isEmpty) 0L
      else math.floor(1000.0 * (xs.length - xs.distinct.length) / xs.length).toLong
    def gramsOf(ts: Seq[String], n: Int): Seq[String] =
      ts.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
    val expected = docs.collect().map { r =>
      val ts = toks(r.getString(1))
      (r.getLong(0), ts.length.toLong, dupMilli(ts),
        dupMilli(gramsOf(ts, 2)), dupMilli(gramsOf(ts, 3)))
    }.sortBy(_._1).toSeq
    val rep = TextOps.repetition(docs)
    val plan = rep.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan) // pure projection, zero shuffles
    val got = rep.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got == expected && got.nonEmpty)
    // short docs score 0 instead of dividing by zero; a pure repeat maxes out
    import spark.implicits._
    val tiny = Seq((0L, "x"), (1L, "a b"), (2L, ""), (3L, "w w w w"),
      (4L, null.asInstanceOf[String])) // NULL text = zero tokens, never size(NULL) = -1
      .toDF("doc_id", "text")
    val t = TextOps.repetition(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(t == Set((0L, 1L, 0L, 0L, 0L), (1L, 2L, 0L, 0L, 0L),
      (2L, 0L, 0L, 0L, 0L), (3L, 4L, 750L, 666L, 500L), (4L, 0L, 0L, 0L, 0L)))
  }

  test("media pipeline: stub decode is deterministic with correct schema and batching") {
    val media = Media.mediaTable(spark, Sf)
    assert(media.schema("payload").dataType.typeName == "binary")
    val f1 = Media.extractFeatures(media, 8)
    val f2 = Media.extractFeatures(media, 3) // different partitioning, same rows
    assert(f1.count() == media.count())
    val a = f1.collect().map(r => (r.doc_id, r.feature_sum_x1000, r.n_bytes, r.feature.toSeq)).toSet
    val b = f2.collect().map(r => (r.doc_id, r.feature_sum_x1000, r.n_bytes, r.feature.toSeq)).toSet
    assert(a == b, "features must not depend on partitioning")
    assert(a.forall(_._4.length == 8))
  }
}
