package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.operators.{Dedup, Multimodal, Similarity, SizeRoute, TextAnalysis}

/** Property/recall specs for the hash-dependent operators that have
  * no DuckDB oracle (SURVEY.md §6).
  */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"

  def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("dropNearDuplicatesKeepBest keeps the LONGEST member per " +
      "component (ties to min id) and matches dropNearDuplicates' " +
      "survivor count (r17)") {
    // cluster {1,2,3} identical text with lengths via score col;
    // cluster {10,11} identical; 20 unique
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "iota kappa lambda mu nu xi omicron pi"
    val rows = Seq(
      (1L, t1, 5L), (2L, t1, 9L), (3L, t1, 9L),
      (10L, t2, 4L), (11L, t2, 2L),
      (20L, "completely different words entirely here now", 7L))
      .toDF("doc_id", "text", "score")
    val best = Dedup.dropNearDuplicatesKeepBest(rows, "doc_id", "text",
      "score").select("doc_id").collect().map(_.getLong(0)).toSet
    // cluster 1: max score 9 tied between 2 and 3 -> min id 2;
    // cluster 2: 10 (score 4) beats 11; 20 unique survives
    assert(best == Set(2L, 10L, 20L), best.toString)
    val minId = Dedup.dropNearDuplicates(rows, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 10L, 20L), minId.toString)
    assert(best.size == minId.size)
  }

    test("minhash LSH finds every exact-jaccard near-dup pair (recall vs truth)") {
    val truth = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "test corpus should contain near-dups")
    // candidates are verified with exact jaccard, so lsh ⊆ truth;
    // banding (32 hashes, 8 bands of 4) should catch all j>=0.8 pairs here
    assert(lsh.subsetOf(truth))
    assert(lsh == truth, s"missed pairs: ${truth -- lsh}")
  }

  test("minhash LSH bucket cap bounds a degenerate all-identical corpus") {
    // 1000 identical docs put all 1000 in every band bucket: without a
    // cap the bucket self-join is quadratic (8M candidate rows). With
    // the cap the hot buckets drop out and the job stays bounded,
    // while a small under-cap near-dup group is still found.
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hot = (1 to 1000).map(i => (i.toLong, text))
    val smallGroup = Seq((2001L, "one two three four five six seven eight nine ten"),
      (2002L, "one two three four five six seven eight nine ten"))
    val corpus = (hot ++ smallGroup).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(corpus, "doc_id", "text",
      threshold = 0.8, maxBucketSize = 50)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((2001L, 2002L)),
      s"expected only the under-cap pair, got ${pairs.size} pairs")
  }

  test("embedding LSH bucket cap bounds a degenerate all-identical corpus") {
    // 1000 identical vectors all land in ONE hyperplane bucket: without
    // a cap the within-bucket self-join is quadratic (~500k pairs). With
    // the cap the hot bucket opts out AND is reported, while an
    // under-cap near-dup pair in a different direction is still found.
    val hot = (1 to 1000).map(i => (i.toLong, Array(1.0f, 0.1f, 0.0f, -0.2f)))
    val small = Seq(
      (2001L, Array(-0.3f, 1.0f, 0.4f, 0.1f)),
      (2002L, Array(-0.3f, 1.0f, 0.41f, 0.1f)))
    val corpus = (hot ++ small).toDF("vec_id", "embedding")
    val (pairs, report) = Dedup.embeddingNearDupWithReport(
      corpus, "vec_id", "embedding",
      threshold = 0.95, numPlanes = 8, maxBucketSize = 50)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((2001L, 2002L)),
      s"expected only the under-cap pair, got ${got.size} pairs")
    val (bSkipped, vSkipped, frac) =
      report.as[(Long, Long, Double)].collect().head
    assert(bSkipped == 1L, s"expected 1 skipped bucket, got $bSkipped")
    assert(vSkipped == 1000L, s"expected 1000 skipped vecs, got $vSkipped")
    assert(math.abs(frac - 1000.0 / 1002.0) < 1e-4)
  }

  test("embedding LSH cap report reads all-zeros on a well-spread corpus") {
    // the production regime: autoPlanes keeps expected bucket size ~4x
    // under the cap, so on the synthetic (well-spread) corpus nothing
    // is skipped and capped output == uncapped output.
    val e = embs
    val planes = Dedup.autoPlanes(e.count())
    val (capped, report) = Dedup.embeddingNearDupWithReport(
      e, "vec_id", "embedding", threshold = 0.3, numPlanes = planes)
    val unCapped = Dedup.embeddingNearDup(e, "vec_id", "embedding",
      threshold = 0.3, numPlanes = planes, maxBucketSize = Int.MaxValue)
    val (bSkipped, vSkipped, frac) =
      report.as[(Long, Long, Double)].collect().head
    assert(bSkipped == 0L && vSkipped == 0L && frac == 0.0)
    assert(capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet ==
      unCapped.select("id_a", "id_b").as[(Long, Long)].collect().toSet)
  }

  test("autoPlanes keeps expected bucket size under the cap and is clamped") {
    assert(Dedup.autoPlanes(2000) == 4)   // historical fixed-4 regime
    assert(Dedup.autoPlanes(500) == 4)
    val n = 100000000L
    val p = Dedup.autoPlanes(n)
    assert(n.toDouble / math.pow(2, p) <= 1000,
      "expected bucket size exceeds the cap")
    assert(Dedup.autoPlanes(Long.MaxValue) == 24)
  }

  test("entity-resolution hot-block cap bounds a degenerate shared-token block") {
    // ~10^3 names sharing one last token would pay |block|^2 = 500k
    // levenshtein evaluations: with the cap the hot block opts out
    // (its names fall through as singletons, reported), while an
    // under-cap fuzzy pair in another block still clusters.
    val hot = (1 to 1000).map(i => f"name$i%04d smith")
    val small = Seq("alpha gear", "alphq gear", "unrelated widget")
    val df = (hot ++ small).toDF("p_name")
    val (clusters, report) = graft.operators.EntityResolution
      .clusterWithReport(df, "p_name", maxBlockSize = 50)
    val got = clusters.as[(String, String)].collect().toMap
    assert(got("alpha gear") == "alpha gear" && got("alphq gear") == "alpha gear",
      "under-cap fuzzy pair must still cluster")
    assert(got("unrelated widget") == "unrelated widget")
    // every hot-block name is its own singleton cluster (no pairs made)
    assert(hot.forall(n => got(n) == n), "hot-block names must be singletons")
    val (bSkipped, nSkipped, frac) =
      report.as[(Long, Long, Double)].collect().head
    assert(bSkipped == 1L && nSkipped == 1000L)
    assert(math.abs(frac - 1000.0 / 1003.0) < 1e-4)
    // sanity: UNCAPPED, the hot block does cluster (adjacent numeric
    // names are edit-distance <= 2 apart) — proving the cap, not the
    // data, bounded the work above.
    val unCapped = graft.operators.EntityResolution
      .cluster(df, "p_name", maxBlockSize = Int.MaxValue)
      .as[(String, String)].collect().toMap
    assert(unCapped("name0002 smith") == "name0001 smith")
  }

  test("simhash pairs are token-set near-dups with verified hamming <= 3") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    val collected = pairs.select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(collected.nonEmpty)
    assert(collected.forall(_._3 <= 3))
    // simhash measures token-DISTRIBUTION similarity (bit votes over
    // unordered token hashes), so the right ground truth is unigram
    // jaccard, not 3-gram: every flagged pair must be a token-set
    // near-dup, and most order-preserving near-dups must be caught.
    val uniJac = Dedup.ngramJaccard(docs, "doc_id", "text", n = 1, threshold = 0.0)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val simPairs = collected.map(t => (t._1, t._2)).toSet
    assert(simPairs.forall(p => uniJac.getOrElse(p, 0.0) >= 0.85),
      "simhash flagged a pair with low token-set similarity")
    val truth = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = (truth & simPairs).size.toDouble / truth.size
    assert(recall >= 0.7, s"simhash recall on 3-gram near-dups too low: $recall")
  }

  test("brute-force ANN returns k ranked neighbors with descending cosine") {
    val res = Similarity.bruteForceTopK(embs, embs.filter($"vec_id" < 5), "vec_id", "embedding", k = 5)
      .select("query_id", "base_id", "rank", "cosine")
      .as[(Long, Long, Long, Double)].collect()
    assert(res.length == 25)
    res.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      assert(byRank.map(_._4).sliding(2).forall(p => p(0) >= p(1)), "cosine must be non-increasing")
    }
  }

  test("MMR re-rank matches a driver-side greedy reference and diversifies") {
    val got = Similarity.mmrTopK(embs, embs.filter($"vec_id" < 5),
        "vec_id", "embedding", k = 4, m = 12, lambda = 0.7)
      .as[(Long, Int, Long, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // reference: same candidates via bruteForceTopK, greedy on the driver
    val cand = Similarity.bruteForceTopK(embs, embs.filter($"vec_id" < 5),
        "vec_id", "embedding", k = 12)
      .select("query_id", "base_id", "rank", "cosine")
      .as[(Long, Long, Long, Double)].collect()
    val vecs = embs.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    val want = cand.groupBy(_._1).map { case (qid, rows) =>
      val cs = rows.sortBy(_._3)
      val sel = scala.collection.mutable.ArrayBuffer[Int]()
      while (sel.length < 4) {
        val scored = cs.indices.filterNot(sel.contains).map { i =>
          val red = if (sel.isEmpty) 0.0
            else sel.map(j => Similarity.cosineLocal(
              vecs(cs(i)._2), vecs(cs(j)._2))).max
          (i, 0.7 * cs(i)._4 - 0.3 * red)
        }
        val best = scored.minBy { case (i, s) => (-s, cs(i)._2) }._1
        sel += best
      }
      qid -> sel.map(cs(_)._2).toSeq
    }
    assert(got === want)
    // diversification property: plant an exact duplicate of the top hit —
    // plain top-k returns both copies adjacent, MMR must separate them
    val q = embs.filter($"vec_id" === 0)
    val top1 = Similarity.bruteForceTopK(embs, q, "vec_id", "embedding", k = 1)
      .select("base_id").as[(Long)].collect().head
    val dupe = embs.filter($"vec_id" === top1)
      .withColumn("vec_id", lit(999999L))
    val seeded = embs.unionByName(dupe)
    val topk = Similarity.bruteForceTopK(seeded, q, "vec_id", "embedding", k = 2)
      .select("base_id").as[Long].collect().toSet
    assert(topk === Set(top1, 999999L), "plain top-k picks both copies")
    val mmr = Similarity.mmrTopK(seeded, q, "vec_id", "embedding",
        k = 2, m = 12, lambda = 0.7)
      .select("base_id").as[Long].collect().toSet
    assert(mmr.intersect(Set(top1, 999999L)).size == 1,
      s"MMR must not return both copies of a duplicate: $mmr")
  }

  test("LSH ANN results are a subset of correct answers within shared buckets") {
    val brute = Similarity.bruteForceTopK(embs, embs.filter($"vec_id" < 5), "vec_id", "embedding", k = 50)
      .select("query_id", "base_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(embs, embs.filter($"vec_id" < 5), "vec_id", "embedding", k = 5, numPlanes = 4)
      .select("query_id", "base_id", "cosine").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    // each lsh hit must be a genuinely high-cosine neighbor (top-50 of brute force)
    val hitRate = lsh.count(r => brute.contains((r._1, r._2))).toDouble / lsh.length
    assert(hitRate >= 0.5, s"LSH hit rate vs brute-force top-50 too low: $hitRate")
  }

  test("cosineSim agrees with plain-Scala computation") {
    val rows = embs.limit(3).select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val (idA, va) = rows(0); val (idB, vb) = rows(1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val got = embs.filter($"vec_id" === idA).crossJoin(
        embs.filter($"vec_id" === idB).select($"embedding".as("e2")))
      .select(cosineSim($"embedding", $"e2")).as[Double].head()
    assert(math.abs(got - cos(va, vb)) < 1e-9)
  }

  test("rolling fingerprint is order-sensitive and deterministic") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(df, "doc_id", "text")
      .select("doc_id", "rolling_fp").as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(3L))
    assert(fps(1L) != fps(2L))
  }

  test("wordShingles handles short texts without descending-sequence artifacts") {
    val df = Seq((1L, "a b"), (2L, "a b c"), (3L, "")).toDF("id", "t")
    val got = df.select($"id", wordShingles(wsTokens($"t"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L).isEmpty)
    assert(got(2L) == Seq("a b c"))
    assert(got(3L).isEmpty || got(3L) == Seq(""))
  }

  test("multimodal decodeMeta runs the batched partition pipeline") {
    val media = docs.withColumn("payload", encode($"text", "UTF-8"))
    val meta = Multimodal.decodeMeta(spark, media, "doc_id", "payload")
    val rows = meta.collect()
    assert(rows.length == docs.count())
    assert(rows.forall(m => m.width == m.n_bytes % 640 && m.height == (m.n_bytes * 7) % 480))
    assert(rows.forall(m => (m.n_bytes % 2 == 0) == (m.format == "png")))
    // pure-column variant agrees with the partition-batch variant
    val colVariant = Multimodal.metaColumns(media, "doc_id", "payload")
      .select($"doc_id", $"n_bytes", $"width", $"height", $"format")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val dsVariant = rows.map(m => (m.doc_id, m.n_bytes, m.width, m.height, m.format)).toSet
    assert(colVariant == dsVariant)
  }

  test("multimodal REAL decode: PPM and BMP parse to exact pixels, resize and features are real") {
    import Multimodal.{MediaRow, decodeImage, imageFeatures, resizeImage}
    // P6 PPM, 4x2, with a header comment; pixel (x,y) = (x*10, y*10, x+y)
    val ppmHeader = "P6\n# test image\n4 2\n255\n".getBytes("US-ASCII")
    val ppmPixels = (for (y <- 0 until 2; x <- 0 until 4)
      yield Seq(x * 10, y * 10, x + y)).flatten.map(_.toByte).toArray
    val ppm = ppmHeader ++ ppmPixels
    val img = decodeImage(MediaRow(1L, ppm)).get
    assert((img.width, img.height, img.channels) == (4, 2, 3))
    assert(img.pixel(3, 1, 0) == 30 && img.pixel(3, 1, 1) == 10 && img.pixel(3, 1, 2) == 4)

    // 2x2 24-bit BMP, bottom-up rows padded to 4 bytes, BGR storage:
    // want top row RED GREEN / bottom row BLUE WHITE
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val rowBot = Array[Byte](-1, 0, 0, /*blue*/ -1, -1, -1, /*white*/ 0, 0) // + pad
    val rowTop = Array[Byte](0, 0, -1, /*red*/ 0, -1, 0, /*green*/ 0, 0)
    val bmp = "BM".getBytes("US-ASCII") ++ le32(54 + 16) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(16) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      rowBot ++ rowTop // stored bottom-up: file order = bottom row first...
    // (bottom-up means the FIRST stored row is the BOTTOM of the image)
    val bimg = decodeImage(MediaRow(2L, bmp)).get
    assert((bimg.width, bimg.height) == (2, 2))
    // first stored row (rowBot) is the image's bottom row
    assert((bimg.pixel(0, 1, 0), bimg.pixel(0, 1, 1), bimg.pixel(0, 1, 2)) == (0, 0, 255)) // blue
    assert((bimg.pixel(1, 1, 0), bimg.pixel(1, 1, 1), bimg.pixel(1, 1, 2)) == (255, 255, 255))
    assert((bimg.pixel(0, 0, 0), bimg.pixel(0, 0, 1), bimg.pixel(0, 0, 2)) == (255, 0, 0)) // red
    assert((bimg.pixel(1, 0, 0), bimg.pixel(1, 0, 1), bimg.pixel(1, 0, 2)) == (0, 255, 0))

    // Windows-written CRLF header parses to the same pixels
    val crlf = "P6\r\n4 2\r\n255\r\n".getBytes("US-ASCII") ++ ppmPixels
    val cimg = decodeImage(MediaRow(7L, crlf)).get
    assert(cimg.pixel(3, 1, 0) == 30 && cimg.pixel(0, 0, 0) == 0)

    // nearest-neighbor resize on real pixels: 4x2 -> 2x1 picks (0,0),(2,0)
    val small = resizeImage(img, 2, 1)
    assert(small.pixel(0, 0, 0) == 0 && small.pixel(1, 0, 0) == 20)

    // features: uniform gray image has channel means v/255 and one luma bin = 1
    val gray = Multimodal.DecodedImage(3L, 2, 2, 3, Array.fill(12)(100.toByte))
    val f = imageFeatures(gray, lumaBins = 13)
    assert(f.length == 3 + 13)
    assert(math.abs(f(0) - 100f / 255f) < 1e-6)
    assert(f(3 + 100 * 13 / 256) == 1.0f)

    // DataFrame e2e: undecodable payloads drop, real ones carry
    // thumbnail + features; decodeMeta reports REAL dims for ppm
    val media = Seq((1L, ppm), (2L, bmp), (9L, "not an image".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val decoded = Multimodal.decodeImages(spark, media, "doc_id", "payload",
      thumbW = 2, thumbH = 2).collect()
    assert(decoded.map(_.getLong(0)).toSet == Set(1L, 2L))
    val meta = Multimodal.decodeMeta(spark, media, "doc_id", "payload")
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).width == 4 && meta(1L).height == 2 && meta(1L).format == "ppm")
    assert(meta(2L).width == 2 && meta(2L).height == 2 && meta(2L).format == "bmp")
    assert(meta(9L).format == "png" || meta(9L).format == "jpeg") // stub fallback
  }

  test("multimodal REAL audio decode: WAV PCM parses with exact sample and feature math") {
    import Multimodal.{MediaRow, audioFeatures, decodeAudio}
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    // mono 16-bit PCM at 8000 Hz: samples +16384 (0.5), -16384, 0, 32767-ish
    val samples = Seq(16384, -16384, 0, 16384)
    val data = samples.flatMap(le16).toArray
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(36 + data.length) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
    val a = decodeAudio(MediaRow(1L, wav)).get
    assert(a.sampleRate == 8000 && a.channels == 1 && a.samples.length == 4)
    assert(a.samples(0) == 0.5 && a.samples(1) == -0.5 && a.samples(2) == 0.0)
    assert(math.abs(a.durationSeconds - 4.0 / 8000) < 1e-12)
    val (dur, rms, zcr, peak) = audioFeatures(a)
    assert(math.abs(rms - math.sqrt((0.25 + 0.25 + 0 + 0.25) / 4)) < 1e-12)
    assert(zcr == 2.0 / 4) // sign changes at samples 1 and 3 (0 counts as >= 0)
    assert(peak == 0.5 && dur == a.durationSeconds)
    assert(decodeAudio(MediaRow(2L, "RIFFnope".getBytes("US-ASCII"))).isEmpty)

    // malformed containers must return None, never loop or allocate:
    // negative RIFF chunk size
    val evilWav = "RIFF".getBytes("US-ASCII") ++ le32(100) ++
      "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++ le32(-5) ++
      Array.fill[Byte](32)(0)
    assert(decodeAudio(MediaRow(3L, evilWav)).isEmpty)
    // PPM declaring absurd dimensions with a tiny body
    val evilPpm = "P6\n2000000 2000000\n255\n".getBytes("US-ASCII") ++ Array.fill[Byte](8)(1)
    assert(Multimodal.decodeImage(MediaRow(4L, evilPpm)).isEmpty)
    // BMP declaring dimensions far past the payload
    val evilBmp = "BM".getBytes("US-ASCII") ++ le32(60) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(1000000) ++ le32(1000000) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ Array.fill[Byte](8)(0)
    assert(Multimodal.decodeImage(MediaRow(5L, evilBmp)).isEmpty)

    val media = Seq((1L, wav), (9L, "not audio".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val rows = Multimodal.decodeAudioBatch(spark, media, "doc_id", "payload").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1L && rows.head.getInt(1) == 8000)
  }

  test("multimodal feature extraction feeds ANN search end-to-end") {
    val media = docs.withColumn("payload", encode($"text", "UTF-8"))
    val feats = Multimodal.extractFeatures(spark, media, "doc_id", "payload").toDF()
      .withColumnRenamed("doc_id", "vec_id").withColumnRenamed("features", "embedding")
    // histograms are valid unit-ready vectors: normalized, fixed-dim
    val sample = feats.limit(5).collect()
    assert(sample.forall(_.getSeq[Float](1).length == 16))
    assert(sample.forall(r => math.abs(r.getSeq[Float](1).sum - 1.0f) < 1e-3))
    // binary -> features -> ANN: the multimodal pipeline terminates in
    // the same similarity operators as text embeddings
    val hits = Similarity.bruteForceTopK(feats, feats.filter($"vec_id" < 3),
      "vec_id", "embedding", k = 3)
    assert(hits.count() == 9)
  }

  test("multimodal features -> PCA -> projected ANN composes end-to-end") {
    import graft.operators.EmbedPca
    val media = docs.withColumn("payload", encode($"text", "UTF-8"))
    val feats = Multimodal.extractFeatures(spark, media, "doc_id", "payload").toDF()
      .withColumnRenamed("doc_id", "vec_id").withColumnRenamed("features", "embedding")
    // fit a compact basis on the 16-dim histograms, project everything
    val pca = EmbedPca.fit(feats, "embedding", k = 8, dim = 16)
    assert(pca.varianceExplained.last > 0.5,
      s"8/16 components should carry real variance, got ${pca.varianceExplained.last}")
    val proj = EmbedPca.project(feats, pca, "embedding")
      .select(col("vec_id"), array((1 to 8).map(i =>
        col(s"pc$i").cast("float")): _*).as("embedding"))
    // the projected space feeds the same ANN operators; the corpus
    // contains exact-duplicate texts (identical histograms), so the
    // top hit may be a tie-broken twin — the invariant is cosine ~1
    val selfHits = Similarity.bruteForceTopK(proj,
        proj.filter($"vec_id" < 5), "vec_id", "embedding", k = 1)
    val tops = selfHits.select($"cosine").as[Double].collect()
    assert(tops.length == 5 && tops.forall(_ > 0.999),
      s"top-1 in projected space must be a (near-)duplicate: ${tops.toSeq}")
  }

  test("multimodal resize stride-samples to a bounded payload") {
    val media = docs.limit(10).withColumn("payload", encode($"text", "UTF-8"))
    val out = Multimodal.resize(spark, media, "doc_id", "payload", targetBytes = 64).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.payload.length <= 64))
  }

  test("multimodal sampleFrames emits bounded fixed-size windows") {
    val media = docs.limit(5).withColumn("payload", encode($"text", "UTF-8"))
    val frames = Multimodal.sampleFrames(media, "doc_id", "payload", frameSize = 64, maxFrames = 4)
    val rows = frames.select($"doc_id", $"frame_no", octet_length($"frame_bytes").cast("long"))
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 <= 64))
    assert(rows.groupBy(_._1).forall(_._2.length <= 4))
  }

  test("ngramJaccard survives a hot-shingle corpus without a quadratic row") {
    // 300 identical docs: every doc shares every shingle; pair
    // generation must emit C(300,2) pairs incrementally, not one
    // 90000-struct array row
    val docs300 = (1 to 300).map(i => (i.toLong, "the quick brown fox jumps over"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(docs300, "doc_id", "text", threshold = 0.99)
    assert(pairs.count() == 300L * 299 / 2)
    assert(pairs.select(min($"jaccard")).as[Double].head() == 1.0)
    // beyond the posting cap the shingle is dropped entirely
    val capped = Dedup.ngramJaccard(docs300, "doc_id", "text",
      threshold = 0.99, maxShinglePosting = 100)
    assert(capped.count() == 0)
  }

  test("decontaminate drops overlapping docs and keeps clean ones") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // fully contaminated
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val probes = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val scored = graft.operators.Decontaminate
      .contamination(corpus, probes, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(scored(1L)._4 == 1.0) // every 3-gram of doc 1 is in the probe
    assert(scored(2L)._4 == 0.0 && scored(2L)._3 == 0L)
    val clean = graft.operators.Decontaminate
      .decontaminate(corpus, probes, "doc_id", "text", maxFraction = 0.5)
      .select("doc_id").as[Long].collect().toSeq
    assert(clean == Seq(2L))
  }

  test("line dedup keeps first occurrences and reassembles in order") {
    val df = Seq(
      (1L, "alpha\nshared\nbeta"),
      (2L, "shared\ngamma"),
      (3L, "shared")).toDF("id", "text")
    val got = graft.operators.LineDedup.dedupLines(df, "id", "text").orderBy("id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "alpha\nshared\nbeta", 3L, 0L), // first occurrence keeps everything
      (2L, "gamma", 1L, 1L),               // 'shared' dropped, order kept
      (3L, "", 0L, 1L)))                   // fully-deduped doc keeps a row
  }

  test("greedy packing: bins never overflow, runs are contiguous, oversize doc isolated") {
    val docs = ((1 to 100).map(i => (i.toLong, Seq.fill(i % 7 + 1)("w").mkString(" "))) :+
      (101L, Seq.fill(15)("w").mkString(" "))).toDF("id", "text")
    val rows = graft.operators.SequencePack
      .packGreedy(docs, "id", "text", budget = 10, numPartitions = 4)
      .as[(Long, Long, Long)].collect()
    assert(rows.length == 101)
    val byBin = rows.groupBy(_._3)
    byBin.foreach { case (bin, rs) =>
      val total = rs.map(_._2).sum
      assert(total <= 10 || rs.length == 1, s"bin $bin overflows with ${rs.length} docs: $total")
      val ids = rs.map(_._1).sorted
      assert(ids.last - ids.head == ids.length - 1, s"bin $bin is not a contiguous run")
    }
    assert(byBin(rows.find(_._1 == 101L).get._3).length == 1) // oversize doc alone
  }

  test("greedy packing works with non-long (string) doc ids") {
    val docs = (1 to 20).map(i => (f"doc_$i%03d", Seq.fill(i % 5 + 1)("w").mkString(" ")))
      .toDF("id", "text")
    val rows = graft.operators.SequencePack
      .packGreedy(docs, "id", "text", budget = 6, numPartitions = 2)
      .as[(String, Long, Long)].collect()
    assert(rows.length == 20)
    assert(rows.map(_._1).toSet == (1 to 20).map(i => f"doc_$i%03d").toSet)
    rows.groupBy(_._3).foreach { case (bin, rs) =>
      assert(rs.map(_._2).sum <= 6 || rs.length == 1, s"bin $bin overflows")
      val ids = rs.map(_._1).sorted
      // contiguous run in id order
      val all = rows.map(_._1).sorted
      val lo = all.indexOf(ids.head)
      assert(all.slice(lo, lo + ids.length).toSeq == ids.toSeq, s"bin $bin not contiguous")
    }
    // missing id column fails fast with a clear message
    val err = intercept[IllegalArgumentException] {
      graft.operators.SequencePack.packGreedy(docs, "nope", "text", budget = 6)
    }
    assert(err.getMessage.contains("id column 'nope'"))
  }

  test("connected components: chain graph converges in O(log diameter) iterations") {
    // path 0-1-...-15: plain min propagation needs ~15 iterations;
    // pointer jumping doubles labelled distance per iteration
    val chain = (0 until 15).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    // forceRoute(false) forces the DISTRIBUTED fixpoint (the default
    // would route this model-sized graph to the driver union-find)
    val (labels, iters) = SizeRoute.forceRoute(false) {
      graft.operators.Components.connectedComponentsWithStats(chain, "a", "b")
    }
    val comps = labels.as[(Long, Long)].collect().toMap
    assert(comps.size == 16 && comps.values.forall(_ == 0L))
    assert(iters <= 7, s"chain-16 should converge in ~log iterations, took $iters")
  }

  test("connected components: local union-find and distributed fixpoint agree") {
    val rnd = new scala.util.Random(23)
    val pairs = (1 to 300).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)).distinct
    val df = pairs.toDF("a", "b")
    val local = graft.operators.Components.connectedComponents(df, "a", "b")
      .as[(Long, Long)].collect().toMap
    val dist = SizeRoute.forceRoute(false) {
      graft.operators.Components.connectedComponents(df, "a", "b")
        .as[(Long, Long)].collect().toMap
    }
    assert(local === dist)
    // string-keyed graphs take the r18 local route (UTF-8-byte min)
    val s = Seq(("x", "y"), ("y", "z"), ("p", "q")).toDF("a", "b")
    val got = graft.operators.Components.connectedComponents(s, "a", "b")
      .as[(String, String)].collect().toMap
    assert(got === Map("x" -> "x", "y" -> "x", "z" -> "x", "p" -> "p", "q" -> "p"))
  }

  test("connected components r18: string local route matches the " +
      "distributed min OUTSIDE the BMP, where JVM ordering disagrees") {
    // U+10000 (surrogate pair, UTF-16 units start 0xD800) sorts BELOW
    // U+FF61 in JVM compareTo but ABOVE it in UTF-8 bytes — Spark's
    // UTF8String order. The component min must be the UTF-8 one on
    // BOTH routes.
    val astral = "𐀀" // U+10000
    val halfStop = "｡"     // U+FF61
    assert(astral.compareTo(halfStop) < 0, "JVM order premise")
    val df = Seq((astral, halfStop), ("aa", "ab")).toDF("a", "b")
    def run(local: Boolean) = SizeRoute.forceRoute(local) {
      graft.operators.Components.connectedComponents(df, "a", "b")
        .as[(String, String)].collect().toMap
    }
    val local = run(true)
    val dist = run(false)
    assert(local === dist)
    assert(local(astral) == halfStop, "min must follow UTF-8 byte order")
    // null-bearing string edges fall through to the distributed path
    // (equi-join null semantics are its contract): non-null nodes
    // still resolve, and the call does not NPE in the local route
    val withNull = Seq((Some("x"), Some("y")), (None, Some("z")))
      .toDF("a", "b")
    val viaNull = graft.operators.Components
      .connectedComponents(withNull, "a", "b")
      .filter(col("id").isNotNull).as[(String, String)].collect().toMap
    assert(viaNull("y") == "x" && viaNull("x") == "x")
  }

  test("connected components: two cliques sharing no edge stay separate") {
    val pairs = Seq((10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("a", "b")
    val comps = graft.operators.Components.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // explicit partition count (the model-sized-graph overhead knob)
    // changes only wall clock, never the result
    val small = graft.operators.Components
      .connectedComponents(pairs, "a", "b", partitions = 2)
      .as[(Long, Long)].collect().toMap
    assert(small == comps)
  }

  test("PNG decode is REAL: zlib round-trip, every prediction filter, gray/RGB/RGBA") {
    import Multimodal.{DecodedImage, MediaRow, decodeImage, encodePng}
    // round-trip through the encoder (filter-0 rows): exact pixels back
    val rgb = DecodedImage(1L, 5, 3, 3,
      (0 until 45).map(i => ((i * 37 + 11) % 256).toByte).toArray)
    val png = encodePng(rgb)
    assert(png.take(4).map(_ & 0xFF).toSeq == Seq(137, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    val back = decodeImage(MediaRow(1L, png)).get
    assert((back.width, back.height, back.channels) == (5, 3, 3))
    assert(back.pixels.toSeq == rgb.pixels.toSeq)

    // gray (1ch) and RGBA (4ch) round-trip too
    for (ch <- Seq(1, 4)) {
      val img = DecodedImage(2L, 4, 4, ch,
        (0 until 16 * ch).map(i => ((i * 53) % 256).toByte).toArray)
      val b = decodeImage(MediaRow(2L, encodePng(img))).get
      assert(b.channels == ch && b.pixels.toSeq == img.pixels.toSeq)
    }

    // every filter type: apply the PNG filters FORWARD here, deflate,
    // wrap in chunks by reusing the encoder's container via surgery —
    // decode must reconstruct the original pixels
    val w = 4; val h = 5; val bpp = 3
    val pix = (0 until w * h * bpp).map(i => ((i * 29 + 7) % 256).toByte).toArray
    val rowLen = w * bpp
    val filtered = new Array[Byte]((rowLen + 1) * h)
    for (y <- 0 until h) {
      val f = y % 5 // rows use filters 0,1,2,3,4
      filtered(y * (rowLen + 1)) = f.toByte
      for (i <- 0 until rowLen) {
        val x = pix(y * rowLen + i) & 0xFF
        val a = if (i >= bpp) pix(y * rowLen + i - bpp) & 0xFF else 0
        val b = if (y > 0) pix((y - 1) * rowLen + i) & 0xFF else 0
        val c = if (y > 0 && i >= bpp) pix((y - 1) * rowLen + i - bpp) & 0xFF else 0
        val enc = f match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            x - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        filtered(y * (rowLen + 1) + 1 + i) = (enc & 0xFF).toByte
      }
    }
    // deflate the hand-filtered stream and splice it into a container
    // built by the encoder for the same dimensions
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(filtered); deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) zbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val zdata = zbuf.toByteArray
    def be32(v: Int) = Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    val container = encodePng(DecodedImage(3L, w, h, bpp, new Array[Byte](w * h * bpp)))
    val ihdrEnd = 8 + 8 + 13 + 4
    val iend = container.takeRight(12)
    val crc = new java.util.zip.CRC32()
    crc.update("IDAT".getBytes("US-ASCII")); crc.update(zdata)
    val crafted = container.take(ihdrEnd) ++
      be32(zdata.length) ++ "IDAT".getBytes("US-ASCII") ++ zdata ++
      be32(crc.getValue.toInt) ++ iend
    val dec = decodeImage(MediaRow(3L, crafted)).get
    assert(dec.pixels.toSeq == pix.toSeq,
      "Sub/Up/Average/Paeth unfiltering must reconstruct the original pixels")

    // malformed inputs are None, never a crash
    assert(decodeImage(MediaRow(4L, png.dropRight(20))).isEmpty, "truncated IDAT")
    val depth16 = png.clone; depth16(8 + 8 + 8) = 16.toByte
    assert(decodeImage(MediaRow(5L, depth16)).isEmpty, "16-bit depth unsupported")
    val interlaced = png.clone; interlaced(8 + 8 + 12) = 1.toByte
    assert(decodeImage(MediaRow(6L, interlaced)).isEmpty, "Adam7 unsupported")

    // decodeMeta reports REAL dims + 'png' for a real png payload
    val meta = Multimodal.decodeMeta(spark,
        Seq((9L, png)).toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().head
    assert(meta.width == 5 && meta.height == 3 && meta.format == "png")
  }

  test("int8 quantization: per-component error bounded by scale/2, high top-k recall") {
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Similarity.quantize(e, "embedding")

    // error bound: |v - dequant(q)| <= scale/2 on every component
    val violations = q.select(
        Similarity.dequantize($"embedding_q", $"embedding_scale").as("dq"),
        transform($"embedding", _.cast("double")).as("v"), $"embedding_scale")
      .withColumn("bad", exists(zip_with($"v", $"dq", (a, b) => abs(a - b)),
        diff => diff > $"embedding_scale" * 0.5 + lit(1e-12)))
      .filter($"bad").count()
    assert(violations == 0, s"$violations vectors exceed the scale/2 error bound")

    // recall: quantized brute force recovers nearly all exact top-5
    val queries = e.filter($"vec_id" < 20)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "base_id").as[(Long, Long)].collect().toSet
    val exact = hits(Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5))
    val quant = hits(Similarity.bruteForceTopKQuantized(q, queries, "vec_id", "embedding", k = 5))
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 quantization recall too low: $recall")

    // memory story holds: the quantized column is tinyint, not double
    assert(q.schema("embedding_q").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, true))
  }

  test("tf-idf top-k: exact scores on a known corpus, heap exec in the plan") {
    // N=3 docs. 'cat' df=3, 'sat' df=2, 'mat'/'dog'/'log' df=1
    val docs = Seq(
      (1L, "the cat sat, the cat!"),
      (2L, "cat sat mat"),
      (3L, "dog log cat")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.tfIdfTopK(docs, "doc_id", "text", k = 2)
      .select($"doc_id", $"term", $"tf", $"df", $"score")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    // linear smoothed idf: (N+1)/(df+1) = 4/(df+1)
    // doc1: the tf=2 df=1 -> 4.0; cat tf=2 df=3 -> 2.0; sat 1,2 -> 4/3
    // doc2: mat 1,1 -> 2.0; sat 1,2 -> 4/3; cat 1,3 -> 1.0
    // doc3: dog 1,1 -> 2.0; log 1,1 -> 2.0 (term asc keeps both over cat)
    assert(got == Set(
      (1L, "the", 2L, 1L, 4.0), (1L, "cat", 2L, 3L, 2.0),
      (2L, "mat", 1L, 1L, 2.0), (2L, "sat", 1L, 2L, 4.0 / 3.0),
      (3L, "dog", 1L, 1L, 2.0), (3L, "log", 1L, 1L, 2.0)))

    val plan = graft.operators.TextAnalysis.tfIdfTopK(docs, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"per-doc top-k must use the heap exec:\n$plan")
    assert(!plan.contains("Window"), s"no window sort over the posting list:\n$plan")
  }

  test("compression ratio: repetitive text compresses, noise does not; layout-invariant") {
    val rnd = new scala.util.Random(7)
    val noisy = (0 until 400).map(_ => rnd.nextPrintableChar()).mkString
    val in = Seq(
      (1L, "spam phrase " * 200),   // boilerplate
      (2L, noisy),                  // near-incompressible
      (3L, ""),                     // empty
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.compressionRatio(in, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._4 < 0.1, s"boilerplate should compress hard: ${got(1L)}")
    assert(got(2L)._4 > 0.5, s"noise should not compress: ${got(2L)}")
    assert(got(3L)._2 == 0L && got(3L)._4 == 1.0)
    assert(got(4L)._2 == 0L && got(4L)._4 == 1.0)
    assert(got(1L)._2 == 2400L) // utf-8 byte count

    // deflate output is deterministic for a given input: partitioning
    // must not change any row
    val repart = TextAnalysis.compressionRatio(in.repartition(7), "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(repart == got)
  }

  test("pHash: identical images collide, a pixel nudge stays close, distinct patterns diverge") {
    def img(id: Long, cls: Int) = Multimodal.decodeImage(
      Multimodal.MediaRow(id, Multimodal.syntheticPpm(id, classes = cls))).get
    // same class, different perturbation pixel → tiny hamming
    val a = Multimodal.phash64(img(3L, 10))
    val a2 = Multimodal.phash64(img(13L, 10)) // 13 % 10 == 3 % 10
    assert(a == Multimodal.phash64(img(3L, 10))) // deterministic
    assert(java.lang.Long.bitCount(a ^ a2) <= 6,
      s"perturbed near-dup drifted ${java.lang.Long.bitCount(a ^ a2)} bits")
    // different class patterns → far apart
    val b = Multimodal.phash64(img(4L, 10))
    assert(java.lang.Long.bitCount(a ^ b) > 10,
      s"distinct patterns too close: ${java.lang.Long.bitCount(a ^ b)} bits")
    // brightness shift alone must not saturate the hash (median
    // excludes DC): +20 on every channel keeps the hash identical
    val base = img(3L, 10)
    val brighter = base.copy(pixels = base.pixels.map(p =>
      math.min(255, java.lang.Byte.toUnsignedInt(p) + 20).toByte))
    assert(Multimodal.phash64(brighter) == a)
  }

  test("phashPairs == brute-force pHash pairs; candidate join is an equi-join") {
    val n = 40
    val imgs = (0L until n).map(id => (id, Multimodal.syntheticPpm(id, classes = 8)))
      .toDF("doc_id", "payload")
    val got = Multimodal.phashPairs(spark, imgs, "doc_id", "payload", maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // truth: all pairs within 6 bits of each other (any band config)
    val hashes = (0L until n).map(id => id -> Multimodal.phash64(
      Multimodal.decodeImage(Multimodal.MediaRow(id,
        Multimodal.syntheticPpm(id, classes = 8))).get)).toMap
    val want = (for {
      i <- 0L until n; j <- (i + 1) until n
      if java.lang.Long.bitCount(hashes(i) ^ hashes(j)) <= 6
    } yield (i, j)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty && want.forall { case (i, j) => i % 8 == j % 8 },
      "intra-class pairs expected")
    val plan = Multimodal.phashPairs(spark, imgs, "doc_id", "payload")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"pair generation must be an equi-join:\n$plan")
  }

  test("capPerGroup == window-form selection, through the heap exec not a window sort") {
    val docs = (1L to 200L).map(i => (i, s"s${i % 5}")).toDF("doc_id", "source")
    val capped = graft.operators.Sampling.capPerGroup(docs, "doc_id", "source", 7)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source")
      .orderBy(graft.operators.Sampling.portableBucket($"doc_id"), $"doc_id")
    val want = docs.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 7).select("doc_id", "source")
      .as[(Long, String)].collect().toSet
    assert(capped.as[(Long, String)].collect().toSet == want)
    assert(capped.groupBy("source").count()
      .select("count").as[Long].collect().forall(_ == 7L))
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"heap exec missing:\n$plan")
    assert(!plan.contains("Window"), s"window sort crept in:\n$plan")
  }

  test("JSONL reader: torn lines are rejected with the raw line, never fatal or silent") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    val lines = Seq(
      """{"doc_id": 1, "text": "alpha"}""",
      """{"doc_id": 2, "text": "beta"}""",
      """{"doc_id": 3, "text": "torn""", // truncated mid-record
      """not json at all""",
      """{"doc_id": 4, "text": "gamma"}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val (clean, rejects) = graft.sources.CorpusFormats.splitCorrupt(
      graft.sources.CorpusFormats.readJsonl(spark, dir, schema))
    assert(clean.as[(Long, String)].collect().toSet ==
      Set((1L, "alpha"), (2L, "beta"), (4L, "gamma")))
    // the reject set is auditable standalone and carries the raw lines
    assert(rejects.as[String].collect().toSet ==
      Set("""{"doc_id": 3, "text": "torn""", "not json at all"))
  }

  test("distributed prefix sum == single-task window; duplicate keys refused; partition-invariant") {
    import graft.operators.PrefixSum
    val data = (1 to 500).map(i =>
      ((i * 37) % 1000, ((i * 13) % 97).toLong)).distinct
      .toDF("k", "v")
    def naive = {
      val w = org.apache.spark.sql.expressions.Window.orderBy("k")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      data.withColumn("run", sum($"v").over(w))
        .select($"k", $"run".cast("long")).as[(Int, Long)].collect().toMap
    }
    for (parts <- Seq(1, 3, 8)) {
      val got = PrefixSum.runningTotal(data, "k", "v", "run", partitions = parts)
        .select($"k", $"run".cast("long")).as[(Int, Long)].collect().toMap
      assert(got == naive, s"parts=$parts")
    }
    // the plan must never have an unpartitioned window
    val plan = PrefixSum.runningTotal(data, "k", "v", "run", partitions = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window [") ||
      !plan.matches("(?s).*windowspecdefinition\\(\\s*k.*"),
      "window must be partitioned by pid")
    val audit = graft.plans.PlanAudit.audit(
      PrefixSum.runningTotal(data, "k", "v", "run", partitions = 4))
    assert(!audit.exists(f => f.rule == "unpartitioned-window"),
      s"prefix sum must not plan a single-task window: $audit")
    // duplicate order keys refused
    val dup = Seq((1, 1L), (1, 2L), (2, 3L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      PrefixSum.runningTotal(dup, "k", "v", "run")
    }
    assert(e.getMessage.contains("unique"))
  }

  test("prefix sum's dup guard rides the totals pass (no extra job)") {
    import graft.operators.PrefixSum
    val data = (1 to 500).map(i => (i, i.toLong)).toDF("k", "v")
    data.count() // warm the scan path outside the counted window
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      PrefixSum.runningTotal(data, "k", "v", "run", partitions = 4)
      Thread.sleep(1000) // drain the async listener bus
    } finally spark.sparkContext.removeSparkListener(listener)
    // construction = range-boundary sampling + eager localCheckpoint +
    // the ONE totals aggregate (which now carries the
    // count-vs-count_distinct dup guard) — 6 jobs with AQE splitting
    // each shuffle stage. The old STANDALONE guard
    // (groupBy(orderCol).count().filter.limit.count()) was a further
    // full-input aggregate (2-3 more jobs); this budget trips if it
    // ever comes back.
    assert(jobs.get() <= 6,
      s"expected sampling + checkpoint + one totals pass, saw ${jobs.get()} jobs")
  }

  test("incremental join view: three delta rounds == one-shot full join, deltas broadcast") {
    import graft.operators.IncrementalJoin
    val a = (1L to 300L).map(k => (k, s"a$k")).toDF("k", "av")
    val b = (1L to 900L).map(i => (i % 350 + 1, s"b$i")).toDF("k", "bv")
    // independent batch rules so every delta term is exercised
    def slice(df: org.apache.spark.sql.DataFrame, c: String, m: Int) =
      (0 until 3).map(i => df.filter(pmod(xxhash64(col(c), lit(m)), lit(3)) === i))
    val aB = slice(a, "av", 7); val bB = slice(b, "bv", 11)
    var (aOld, bOld) = (aB(0), bB(0))
    var view = aOld.join(bOld, Seq("k"))
    for (i <- 1 until 3) {
      view = IncrementalJoin.maintain(view, aOld, aB(i), bOld, bB(i), Seq("k"))
      aOld = aOld.unionByName(aB(i)); bOld = bOld.unionByName(bB(i))
    }
    val got = view.as[(Long, String, String)].collect().sorted.toSeq
    val want = a.join(b, Seq("k")).as[(Long, String, String)]
      .collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
    // scale shape: a small delta probes the big side via broadcast —
    // no fact-fact exchange in the delta terms
    val delta = IncrementalJoin.joinDelta(a, aB(1).limit(5), b, bB(1).limit(5), Seq("k"))
    val plan = delta.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"deltas should broadcast:\n$plan")
  }

  test("CSV reader: quoted text round-trips; malformed rows rejected with the raw line") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // round trip through the writer: commas, quotes, unicode
    val docs = Seq((1L, """plain text"""),
      (2L, """comma, separated, values"""),
      (3L, """says "quoted" things"""),
      (4L, "unicode: café → ok")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("csvrt").toString
    graft.sources.CorpusFormats.writeCsv(docs, dir)
    val (clean, rejects) = graft.sources.CorpusFormats.splitCorrupt(
      graft.sources.CorpusFormats.readCsv(spark, dir, schema))
    assert(rejects.count() == 0)
    assert(clean.as[(Long, String)].collect().toSet ==
      docs.as[(Long, String)].collect().toSet)
    // hand-written file with a malformed row: rejected, not fatal
    val badDir = java.nio.file.Files.createTempDirectory("csvbad").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(badDir, "part-0.csv"),
      Seq("doc_id,text",
        "1,alpha",
        "notanumber,beta", // doc_id fails the LongType schema
        "2,gamma").mkString("\n").getBytes("UTF-8"))
    val (ok, bad) = graft.sources.CorpusFormats.splitCorrupt(
      graft.sources.CorpusFormats.readCsv(spark, badDir, schema))
    assert(ok.as[(Long, String)].collect().toSet ==
      Set((1L, "alpha"), (2L, "gamma")))
    assert(bad.as[String].collect().toSet == Set("notanumber,beta"))
    // newline-bearing text: the writer flattens CR/LF runs to a space
    // (reader runs multiLine-off for line-splittability), so the writer
    // can never produce a file its own reader tears into reject rows
    val nlDocs = Seq((10L, "line one\nline two"), (11L, "cr\r\nlf"))
      .toDF("doc_id", "text")
    val nlDir = java.nio.file.Files.createTempDirectory("csvnl").toString
    graft.sources.CorpusFormats.writeCsv(nlDocs, nlDir)
    val (nlClean, nlRejects) = graft.sources.CorpusFormats.splitCorrupt(
      graft.sources.CorpusFormats.readCsv(spark, nlDir, schema))
    assert(nlRejects.count() == 0, "flattened write must yield zero rejects")
    assert(nlClean.as[(Long, String)].collect().toSet ==
      Set((10L, "line one line two"), (11L, "cr lf")))
  }

  test("bloom-prefiltered contamination == exact broadcast form; probe runs in codegen") {
    // parquet-backed (a LocalRelation would be constant-folded by the
    // optimizer and the plan assertion below would see no filter)
    val corpusDir = java.nio.file.Files.createTempDirectory("bloomdec").toString + "/c"
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "completely unrelated text about spark physical plans and shuffles"),
      (3L, "the quick brown fox appears again jumping over another lazy dog"),
      (4L, "tiny")
    ).toDF("doc_id", "text").write.parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val probes = Seq(
      (10L, "the quick brown fox jumps over the lazy dog")
    ).toDF("bench_id", "text")
    val probeSet = graft.operators.Decontaminate.probeSet(probes, "text").cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_shingles", "n_contaminated")
        .as[(Long, Long, Long)].collect().toSet
    val exact = rows(graft.operators.Decontaminate
      .contaminationAgainst(corpus, probeSet, "doc_id", "text"))
    val bloom = graft.operators.Decontaminate
      .contaminationBloom(corpus, probeSet, "doc_id", "text")
    assert(rows(bloom) == exact)
    assert(exact.map(_._1) == Set(1L, 2L, 3L)) // doc 4 has no shingles
    bloom.collect() // finalize AQE stages so codegen spans are visible
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_might_contain"),
      s"bloom prefilter missing from the plan:\n$plan")
    // AQE renders whole-stage-codegen spans as "*(n)" node prefixes;
    // the probe filter must sit inside one, not fall back to eval
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_bloom_might_contain") && l.contains("*(")),
      s"bloom probe fell out of codegen:\n$plan")
  }

  test("HLL sketch merge: region estimates within rel. error of exact distinct counts") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.queries.Relational.q45HllMerge(spark, sf)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    val exact = spark.read.parquet(s"$sf/customer.parquet")
      .join(spark.read.parquet(s"$sf/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_regionkey").agg(countDistinct("c_custkey").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == exact.keySet && got.nonEmpty)
    exact.foreach { case (region, n) =>
      val est = got(region)
      // lgK=14 keeps HLL error ~1%; allow 5% + small-count slack
      assert(math.abs(est - n) <= math.max(2L, (n * 0.05).toLong),
        s"region $region: est $est vs exact $n")
    }
  }

  test("CMS sketch merge: union estimates obey the count-min bounds vs exact") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.queries.Relational.q48CmsMerge(spark, sf)
      .as[(Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val exact = spark.read.parquet(s"$sf/customer.parquet")
      .join(spark.read.parquet(s"$sf/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_regionkey", "c_mktsegment").count()
      .as[(Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val totalN = exact.values.sum
    assert(got.nonEmpty && exact.keySet.subsetOf(got.keySet))
    exact.foreach { case (k, n) =>
      val est = got(k)
      // CMS never undercounts; overcount <= eps*N (eps=0.005) w.h.p.
      assert(est >= n, s"$k: est $est under exact $n")
      assert(est - n <= math.max(2L, (totalN * 0.005).toLong),
        s"$k: est $est vs exact $n (N=$totalN)")
    }
    // absent key: estimate is pure collision mass, bounded by eps*N
    val ghost = spark.read.parquet(s"$sf/customer.parquet")
      .agg(graft.plans.Cms.sketch(col("c_mktsegment")).as("sk"))
      .select(graft.plans.Cms.estimate(col("sk"), lit("NO_SUCH_SEGMENT")))
      .as[Long].head()
    assert(ghost <= math.max(2L, (totalN * 0.005).toLong), s"ghost=$ghost")
  }

  test("GK quantile merge: rank error within eps*n through the rollup merge tree") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.queries.Relational.q50QuantileMerge(spark, sf)
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> Seq(0.25 -> r._2, 0.5 -> r._3, 0.95 -> r._4)).toMap
    val byRegion = spark.read.parquet(s"$sf/customer.parquet")
      .join(spark.read.parquet(s"$sf/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey"), col("c_acctbal").cast("double"))
      .as[(Long, Double)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    assert(got.keySet == byRegion.keySet && got.nonEmpty)
    got.foreach { case (region, phis) =>
      val xs = byRegion(region)
      val n = xs.length
      phis.foreach { case (phi, est) =>
        // GK bound: the estimate's true rank is within eps*n of phi*n
        // (est is rounded to 2 decimals in the query — rank via <=)
        val rank = xs.count(_ <= est + 0.005)
        val loRank = xs.count(_ < est - 0.005)
        val target = phi * n
        val slack = 0.01 * n + 1
        assert(loRank - slack <= target && target <= rank + slack,
          s"region $region phi=$phi est=$est rank∈[$loRank,$rank] " +
            s"target=$target n=$n")
      }
    }
    // empty sketch → null quantile
    val empty = spark.emptyDataFrame.select(lit(1).as("x"))
      .filter(lit(false))
      .agg(graft.plans.Gk.sketch(col("x")).as("sk"))
      .select(graft.plans.Gk.quantile(col("sk"), lit(0.5)))
      .collect()
    assert(empty.length == 1 && empty(0).isNullAt(0))
  }

  test("quality classifier separates the labeled slice; training is deterministic") {
    import graft.operators.QualityClassifier
    val labeled = docs.withColumn("__lbl",
      (col("lang") === "en").cast("int"))
    val m1 = QualityClassifier.train(labeled, "doc_id", "text", "__lbl")
    // deterministic by construction under a fixed partitioning: zero
    // init, fixed schedule, partition-ordered gradient fold
    val m2 = QualityClassifier.train(labeled, "doc_id", "text", "__lbl")
    assert(m1.bias == m2.bias && m1.weights.sameElements(m2.weights))
    // a different partitioning only reorders float sums: the model
    // agrees to far beyond any decision-relevant precision
    val m3 = QualityClassifier.train(labeled.repartition(5), "doc_id",
      "text", "__lbl")
    assert(math.abs(m1.bias - m3.bias) < 1e-9)
    assert(m1.weights.zip(m3.weights).forall {
      case (a, b) => math.abs(a - b) < 1e-9
    })
    val scored = QualityClassifier.score(docs, "doc_id", "text", m1)
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("is_en")),
        "doc_id")
    val rows = scored.select(col("is_en"), col("prob"))
      .as[(Boolean, Double)].collect()
    assert(rows.forall(r => r._2 >= 0.0 && r._2 <= 1.0))
    // self-fit accuracy at the 0.5 threshold: languages differ in
    // nearly every hashed bigram, so the separation should be strong
    val acc = rows.count(r => (r._2 > 0.5) == r._1).toDouble / rows.length
    assert(acc >= 0.9, s"accuracy $acc")
    val meanEn = rows.filter(_._1).map(_._2).sum / rows.count(_._1)
    val meanOther = rows.filterNot(_._1).map(_._2).sum / rows.count(!_._1)
    assert(meanEn > meanOther + 0.3, s"means $meanEn vs $meanOther")
  }

  test("surgical decontamination removes exactly the quoted span, keeps the remainder") {
    import graft.operators.Decontaminate
    val probe = "the quick brown fox jumps over the lazy dog" // 9 tokens
    val probes = Seq((100L, probe)).toDF("doc_id", "text")
    val prefix = "alpha beta gamma delta epsilon"
    val suffix = "zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, s"$prefix $probe $suffix"),   // quotes the probe mid-doc
      (2L, s"$prefix $suffix"),          // clean
      (3L, "tiny doc")                    // under the window size
    ).toDF("doc_id", "text")
    val got = Decontaminate.surgical(corpus, probes, "doc_id", "text", n = 8)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1: windows at offsets 5 and 6 hit (both fully inside the
    // quoted probe), covering tokens 5..13 = the 9 probe tokens; the
    // surgery removes them and nothing else
    assert(got(1L) == ((1L, s"$prefix $suffix", 9L, 10L)), got(1L).toString)
    assert(got(2L) == ((2L, s"$prefix $suffix", 0L, 10L)))
    assert(got(3L) == ((3L, "tiny doc", 0L, 2L)))
    // a doc that IS entirely benchmark text is gutted to nothing
    val all = Decontaminate.surgical(
      Seq((9L, probe)).toDF("doc_id", "text"), probes,
      "doc_id", "text", n = 8)
      .as[(Long, String, Long, Long)].head()
    assert(all == ((9L, "", 9L, 0L)))
  }

  test("frequent-items sketch: purge-regime bounds contain truth, heavy items never missed") {
    import graft.plans.Freq
    // 10 heavy items (1000 occurrences each) in a 40k-item unit tail:
    // vocab 40010 vs ~768 counters at maxMapSize=1024 — the sketch
    // purges constantly. maxError <= 3.5*50000/1024 ~ 171 < 1000, so
    // NO_FALSE_NEGATIVES guarantees every heavy item is returned.
    val rows = (1 to 10).flatMap(i => Seq.fill(1000)(s"h$i")) ++
      (1 to 40000).map(i => s"t$i")
    val df = rows.toDF("tok").repartition(8)
    val got = df.agg(Freq.sketch(col("tok"), 1024).as("sk"))
      .select(explode(Freq.topItems(col("sk"), 50)).as("r"))
      .select(col("r.item"), col("r.estimate"), col("r.lower"), col("r.upper"))
      .as[(String, Long, Long, Long)].collect()
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got.nonEmpty)
    got.foreach { case (item, est, lo, hi) =>
      val truth = exact(item)
      assert(lo <= truth && truth <= hi, s"$item: true $truth outside [$lo,$hi]")
      assert(lo <= est && est <= hi, s"$item: est $est outside [$lo,$hi]")
    }
    val returned = got.map(_._1).toSet
    (1 to 10).foreach { i =>
      assert(returned.contains(s"h$i"), s"heavy item h$i missed: $returned")
    }
    // two-level rollup (per-partition-group sketches, then union)
    // preserves the same guarantees — the 100 TB storage shape
    val merged = df.withColumn("g", (crc32(col("tok")) % 4).cast("int"))
      .groupBy(col("g")).agg(Freq.sketch(col("tok"), 1024).as("sk"))
      .agg(Freq.union(col("sk"), 1024).as("sk"))
      .select(explode(Freq.topItems(col("sk"), 50)).as("r"))
      .select(col("r.item"), col("r.lower"), col("r.upper"))
      .as[(String, Long, Long)].collect()
    val mergedSet = merged.map(_._1).toSet
    (1 to 10).foreach { i =>
      assert(mergedSet.contains(s"h$i"), s"union missed h$i")
    }
    merged.foreach { case (item, lo, hi) =>
      val truth = exact(item)
      assert(lo <= truth && truth <= hi, s"union $item: $truth outside [$lo,$hi]")
    }
  }

  test("frequent-items sketch: exact regime (vocab under counter budget) is exact") {
    import graft.plans.Freq
    val rows = (0 until 5000).map(i => s"w${i % 20}")
    val df = rows.toDF("tok").repartition(4)
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = df.agg(Freq.sketch(col("tok")).as("sk"))
      .select(explode(Freq.topItems(col("sk"), 20)).as("r"))
      .select(col("r.item"), col("r.estimate"), col("r.lower"), col("r.upper"))
      .as[(String, Long, Long, Long)].collect()
    assert(got.length == 20)
    got.foreach { case (item, est, lo, hi) =>
      assert(est == exact(item) && lo == est && hi == est,
        s"$item: ($est,$lo,$hi) vs exact ${exact(item)}")
    }
    // point probe agrees; absent item probes to zero
    val probes = df.agg(Freq.sketch(col("tok")).as("sk"))
      .select(Freq.estimate(col("sk"), lit("w7")).as("p"),
        Freq.estimate(col("sk"), lit("absent")).as("a"))
      .as[(Long, Long)].head()
    assert(probes._1 == exact("w7") && probes._2 == 0L)
  }

  test("text_heavy_hitters: top-20 equals exact token counts (exact regime)") {
    val got = graft.queries.TextQueries.heavyHitters(spark, sfDir)
      .as[(String, Long)].collect().toSeq
    val exact = docs
      .select(explode(split(col("text"), " ", -1)).as("tok"))
      .groupBy("tok").count()
      .orderBy(col("count").desc, col("tok"))
      .limit(20).as[(String, Long)].collect().toSeq
    assert(got.sortBy(r => (-r._2, r._1)) == exact, s"got $got vs $exact")
  }

  test("theta set-ops: sampling-regime estimates carry truth inside published bounds") {
    import graft.plans.Theta
    // 50k distinct per side, 25k overlap, nominal entries 512: both
    // sketches sample hard (theta << 1). Bounds are 2-standard-
    // deviation and datasketches hashing is seed-fixed, so the
    // assertion is deterministic.
    val k = 512
    val a = (0L until 50000L).toDF("v").repartition(8)
      .agg(Theta.sketch(col("v"), k).as("sk"))
    val b = (25000L until 75000L).toDF("v").repartition(8)
      .agg(Theta.sketch(col("v"), k).as("sk"))
    val row = a.select(col("sk").as("sk_a"))
      .crossJoin(b.select(col("sk").as("sk_b")))
      .select(
        Theta.estimate(col("sk_a")).as("e_a"),
        Theta.bounds(col("sk_a")).as("b_a"),
        Theta.estimate(Theta.intersect(col("sk_a"), col("sk_b"))).as("e_i"),
        Theta.bounds(Theta.intersect(col("sk_a"), col("sk_b"))).as("b_i"),
        Theta.estimate(Theta.aNotB(col("sk_a"), col("sk_b"))).as("e_d"),
        Theta.bounds(Theta.aNotB(col("sk_a"), col("sk_b"))).as("b_d"))
      .as[(Long, (Long, Long), Long, (Long, Long), Long, (Long, Long))]
      .head()
    def check(name: String, exact: Long, est: Long, bounds: (Long, Long)): Unit = {
      assert(bounds._1 <= exact && exact <= bounds._2,
        s"$name: exact $exact outside [${bounds._1},${bounds._2}] (est $est)")
      assert(bounds._1 <= est && est <= bounds._2,
        s"$name: est $est outside its own bounds")
    }
    check("A", 50000L, row._1, row._2)
    check("A∩B", 25000L, row._3, row._4)
    check("A\\B", 25000L, row._5, row._6)
    // disjoint sets: intersection is empty, exactly
    val c = (100000L until 101000L).toDF("v")
      .agg(Theta.sketch(col("v"), k).as("sk"))
    val none = a.select(col("sk").as("sk_a"))
      .crossJoin(c.select(col("sk").as("sk_c")))
      .select(Theta.estimate(Theta.intersect(col("sk_a"), col("sk_c"))))
      .as[Long].head()
    assert(none == 0L)
  }

  test("q58_theta_setops: exact-regime row equals exact distinct set algebra") {
    val got = graft.queries.Relational.q58ThetaSetops(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].head()
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .where(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey"), (month(col("o_orderdate")) <= 6).as("h1"))
    val h1 = o.where(col("h1")).select("o_custkey").distinct()
      .as[Long].collect().toSet
    val h2 = o.where(!col("h1")).select("o_custkey").distinct()
      .as[Long].collect().toSet
    assert(got == ((h1.size.toLong, h2.size.toLong,
      (h1 & h2).size.toLong, (h1 -- h2).size.toLong,
      (h1 | h2).size.toLong)), s"got $got")
  }

  test("GK union rejects mixed-eps sketches; same-eps union still merges") {
    val a = Seq.tabulate(100)(i => ("g", i.toDouble)).toDF("k", "x")
      .groupBy(col("k")).agg(graft.plans.Gk.sketch(col("x"), 0.01).as("sk"))
    val b = Seq.tabulate(100)(i => ("g", (i + 100).toDouble)).toDF("k", "x")
      .groupBy(col("k")).agg(graft.plans.Gk.sketch(col("x"), 0.05).as("sk"))
    // mixed eps: the eps*n guarantee doesn't survive — must fail, not
    // silently produce a mixed-accuracy sketch
    val ex = intercept[Exception] {
      a.union(b).agg(graft.plans.Gk.union(col("sk")).as("m"))
        .select(graft.plans.Gk.quantile(col("m"), lit(0.5))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => Option(c.getMessage)
        .exists(_.contains("different relative errors"))), ex.toString)
    // same eps merges fine and covers the union's range
    val sameB = Seq.tabulate(100)(i => ("g", (i + 100).toDouble)).toDF("k", "x")
      .groupBy(col("k")).agg(graft.plans.Gk.sketch(col("x"), 0.01).as("sk"))
    val med = a.union(sameB).agg(graft.plans.Gk.union(col("sk")).as("m"))
      .select(graft.plans.Gk.quantile(col("m"), lit(0.5)))
      .as[Double].head()
    assert(med >= 90 && med <= 110, s"median of 0..199 was $med")
  }

  test("table profile: per-column stats from one scan, min/max/nulls exact") {
    val df = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "b", 2.5), (2L, "a", null), (3L, null, -1.5), (3L, "a", 9.0)
    ).toDF("id", "s", "v")
    val p = graft.operators.TableStats.profile(df, Seq("id", "s", "v"),
        exactNdv = true)
      .collect().map(r => r.getString(0) -> r).toMap
    def row(c: String) = p(c)
    assert(row("id").getLong(1) == 4 && row("id").getLong(2) == 4 &&
      row("id").getLong(3) == 0 && row("id").getLong(4) == 3)
    assert(row("s").getLong(3) == 1 && row("s").getLong(4) == 2)
    assert(row("s").getString(5) == "a" && row("s").getString(6) == "b")
    assert(row("v").getString(5) == "-1.5" && row("v").getString(6) == "9.0")
    // one scan: a single leaf node feeds the whole profile
    val scans = graft.queries.Relational.q51Profile(spark, sfDir)
      .queryExecution.executedPlan.collectLeaves().size
    assert(scans == 1, s"profile should read the table once, saw $scans leaves")
    // approx path stays within HLL error on the oracle-checked column
    val approx = graft.operators.TableStats.profile(df, Seq("id"))
      .collect()(0).getLong(4)
    assert(math.abs(approx - 3) <= 1)
  }

  test("expectations: per-check edge cases and one-scan plan") {
    import graft.operators.Expectations._
    val df = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "A", 5.0), (1L, "A", 50.0), (2L, "B", -3.0),
      (null, "zz", null), (3L, null, 7.0)
    ).toDF("id", "s", "v")
    val rep = validate(df, Seq(
      NotNull("id"),           // one null id
      Unique(Seq("id")),       // ids 1,1,2,3 → 1 surplus duplicate
      InRange("v", 0, 10),     // 50.0 and -3.0 out; null skipped
      InSet("s", Seq("A", "B")), // "zz" out; null skipped
      Matches("s", "^[A-Z]+$"),  // "zz" fails; null skipped
      RowCountAtLeast(10)))    // 5 rows → shortfall 5
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(rep("not_null(id)") == (1L, false))
    assert(rep("unique(id)") == (1L, false))
    assert(rep("in_range(v,0.0,10.0)") == (2L, false))
    assert(rep("in_set(s)") == (1L, false))
    assert(rep("matches(s)") == (1L, false))
    assert(rep("row_count_at_least(10)") == (5L, false))
    // all-green contract on clean data
    val ok = validate(df.filter(col("id") === 2L), Seq(
      NotNull("id"), Unique(Seq("id")), RowCountAtLeast(1)))
      .collect()
    assert(ok.forall(_.getBoolean(2)))
    // a non-null value that cannot parse as a number VIOLATES a range
    // check — cast-to-null must not silently pass
    val garbage = validate(Seq("5", "junk", "7").toDF("g"),
      Seq(InRange("g", 0, 10))).collect()(0)
    assert(garbage.getLong(1) == 1 && !garbage.getBoolean(2))
    // one scan feeds the whole contract
    val leaves = graft.queries.Relational
      .q52Expectations(spark, sfDir)
      .queryExecution.executedPlan.collectLeaves().size
    assert(leaves == 1, s"expected a single scan, saw $leaves leaves")
  }

  test("semantic dedup: exact precision, full recall on clustered groups, cap opt-out") {
    // 4 well-separated direction groups; members of a group are the
    // same unit direction with a tiny deterministic wobble on one
    // coordinate — within-group cosine ~1, cross-group ~0
    val dims = 8
    def vec(group: Int, member: Int): Array[Float] = {
      val v = Array.fill(dims)(0.001f * (member % 3))
      v(group * 2) = 1.0f
      v(group * 2 + 1) = 0.02f * member
      v
    }
    val rows = for (g <- 0 until 4; m <- 0 until 5)
      yield (g * 100L + m, vec(g, m))
    val df = rows.toDF("vec_id", "embedding")

    // (1) identical vectors per group: assignment is a pure function
    // of the vector, so a duplicate set can NEVER split across
    // clusters — recall is exact, survivors = min id per group
    val identRows = for (g <- 0 until 4; m <- 0 until 5)
      yield (g * 100L + m, vec(g, 0))
    val identKept = graft.operators.Dedup
      .semanticDedup(identRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding",
        threshold = 0.99, numClusters = 4, maxClusterSize = 100)
      .select("vec_id").as[Long].collect().toSet
    assert(identKept == Set(0L, 100L, 200L, 300L), identKept.toString)

    // (2) wobbled vectors: a group may straddle a cluster boundary
    // (the documented recall approximation) but PRECISION is exact —
    // everything dropped must have a genuine smaller-id near-dup
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0 else dot / (na * nb)
    }
    val kept = graft.operators.Dedup
      .semanticDedup(df, "vec_id", "embedding",
        threshold = 0.99, numClusters = 4, maxClusterSize = 100)
      .select("vec_id").as[Long].collect().toSet
    val byId = rows.toMap
    val dropped = rows.map(_._1).toSet -- kept
    dropped.foreach { id =>
      assert(rows.exists { case (o, _) =>
        o < id && cos(byId(o), byId(id)) >= 0.99 },
        s"dropped $id has no true smaller-id near-dup")
    }
    // and the pass is not vacuous: most true dups are still caught
    assert(dropped.size >= 12, s"recall collapsed: dropped=$dropped")

    // auto-k (numClusters <= 0): sizes from the corpus, same result
    val autoKept = graft.operators.Dedup
      .semanticDedup(identRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.99, maxClusterSize = 100)
      .select("vec_id").as[Long].collect().toSet
    assert(autoKept == Set(0L, 100L, 200L, 300L), autoKept.toString)

    // cap opt-out: identical-vector groups give clusters of exactly 5
    // members; a cap of 3 must skip them all → nothing dropped
    val uncapped = graft.operators.Dedup
      .semanticDedup(identRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding",
        threshold = 0.99, numClusters = 4, maxClusterSize = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(uncapped == identRows.map(_._1).toSet,
      "over-cap clusters must be skipped, not deduped")
  }

  test("overlap spans: copied span found between docs Jaccard calls dissimilar") {
    // two long, otherwise-unrelated docs sharing one 12-token span:
    // whole-doc 3-gram Jaccard is far below any dedup threshold, but
    // the span yields exactly (12 - 8 + 1) = 5 shared 8-token windows
    val span = (1 to 12).map(i => s"copied$i").mkString(" ")
    def filler(p: String) = (1 to 80).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, filler("alpha") + " " + span + " " + filler("omega")),
      (2L, filler("beta") + " " + span + " " + filler("gamma")),
      (3L, filler("delta"))
    ).toDF("doc_id", "text")
    val spans = graft.operators.Dedup
      .overlapSpans(docs, "doc_id", "text", windowTokens = 8, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSeq == Seq((1L, 2L, 5L)), spans.mkString(","))
    // the same pair is invisible to whole-doc near-dup similarity
    val jac = graft.operators.Dedup
      .ngramJaccard(docs, "doc_id", "text", threshold = 0.3)
    assert(jac.count() == 0, "jaccard should not fire on a 12-token span")
    // minShared filters: demanding more windows than the span yields drops it
    assert(graft.operators.Dedup
      .overlapSpans(docs, "doc_id", "text", windowTokens = 8, minShared = 6)
      .count() == 0)
  }

  test("source overlap matrix: cross-source copied span attributed to the right pair") {
    val span = (1 to 12).map(i => s"copied$i").mkString(" ")
    def filler(p: String) = (1 to 80).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, filler("alpha") + " " + span + " " + filler("omega"), "crawl"),
      (2L, filler("beta") + " " + span + " " + filler("gamma"), "curated"),
      (3L, filler("delta"), "crawl")
    ).toDF("doc_id", "text", "source")
    val m = graft.operators.Dedup
      .sourceOverlapMatrix(docs, "doc_id", "text", "source", windowTokens = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // one cross-source pair, 5 shared windows, sources ordered; no
    // same-source rows because doc 3 shares nothing
    assert(m.toSeq == Seq(("crawl", "curated", 1L, 5L)), m.mkString(","))
  }

  test("leak-free split: no near-dup pair straddles splits; ratios sane; deterministic") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.TableCatalog.documents(spark, sf)
    val pairs = graft.operators.Dedup
      .ngramJaccard(docs, "doc_id", "text", threshold = 0.8).cache()
    assert(pairs.count() > 0, "vacuous: corpus has no near-dup pairs")
    val assign = graft.operators.Sampling.leakFreeSplit(docs, "doc_id",
      pairs, "doc_a", "doc_b",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))).cache()
    // THE guarantee: both endpoints of every near-dup pair share a split
    val straddling = pairs
      .join(assign.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(assign.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .filter(col("sa") =!= col("sb"))
    assert(straddling.count() == 0,
      s"near-dup pairs across splits: ${straddling.collect().mkString(",")}")
    // every doc assigned exactly once; ratios in a loose statistical band
    val n = docs.count()
    assert(assign.count() == n)
    val bySplit = assign.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet == Set("train", "val", "test"), bySplit.toString)
    assert(bySplit("train").toDouble / n > 0.7 && bySplit("train").toDouble / n < 0.9,
      bySplit.toString)
    for (s <- Seq("val", "test"))
      assert(bySplit(s).toDouble / n > 0.03 && bySplit(s).toDouble / n < 0.2,
        bySplit.toString)
    // deterministic: a re-run reproduces the assignment exactly
    val again = graft.operators.Sampling.leakFreeSplit(docs, "doc_id",
      pairs, "doc_a", "doc_b",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    assert(assign.except(again).isEmpty && again.except(assign).isEmpty)
    pairs.unpersist(); assign.unpersist()
  }

  test("dedup_semantic_report contract query: tight cap fires, production cap silent") {
    val rows = graft.queries.TextQueries
      .dedupSemanticReport(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getAs[String]("regime") -> r).toMap
    assert(rows.keySet == Set("capped_small", "production"))
    def skipped(r: org.apache.spark.sql.Row): Long =
      r.getAs[Number]("docs_skipped").longValue
    // 500 vectors over k=4 clusters with cap 20: some cluster must
    // exceed the cap, and the report must say so
    assert(skipped(rows("capped_small")) > 0,
      s"tight cap must trip on 500 rows / 4 clusters: ${rows("capped_small")}")
    // auto-k + default cap on the same corpus: nothing skips
    assert(skipped(rows("production")) == 0,
      s"production regime must report zero skips: ${rows("production")}")
  }

  test("semantic dedup: indexed (saved-model) form matches fresh-train; cap report") {
    val dims = 8
    def vec(group: Int, member: Int): Array[Float] = {
      val v = Array.fill(dims)(0.001f * (member % 3))
      v(group * 2) = 1.0f
      v(group * 2 + 1) = 0.02f * member
      v
    }
    val rows = for (g <- 0 until 4; m <- 0 until 5)
      yield (g * 100L + m, vec(g, m))
    val df = rows.toDF("vec_id", "embedding")

    // production split: train once, persist centroids, dedup against
    // the saved model — must equal the fresh-train form (training is
    // deterministic: seeded init, fixed Lloyd iterations). The model
    // is sized by the same auto-k policy the fresh auto path
    // (numClusters = 0) uses, so this parity covers the production k
    // policy, not a fixture constant.
    val autoK = graft.operators.Dedup.autoClusterCount(rows.size, maxClusterSize = 100)
    assert(autoK == 4, s"expected floor k for a 20-row corpus, got $autoK")
    val model = graft.operators.IvfIndex.train(df, "vec_id", "embedding",
      numCentroids = autoK)
    val dir = java.nio.file.Files.createTempDirectory("semdedup_model").toString
    graft.operators.IvfIndex.saveModel(spark, model, dir)
    val fresh = graft.operators.Dedup
      .semanticDedup(df, "vec_id", "embedding",
        threshold = 0.99, numClusters = 0, maxClusterSize = 100)
      .select("vec_id").as[Long].collect().toSet
    val indexed = graft.operators.Dedup
      .semanticDedupIndexed(df, "vec_id", "embedding", dir,
        threshold = 0.99, maxClusterSize = 100)
      .select("vec_id").as[Long].collect().toSet
    assert(indexed == fresh, s"indexed=$indexed fresh=$fresh")
    assert(indexed.size < rows.size, "parity is vacuous: nothing deduped")

    // cap report: a degenerate corpus (identical vectors per group →
    // every cluster has >= 5 members, all over a cap of 3) must say
    // so — 100% of the corpus uncompared, nothing dropped
    val identRows = for (g <- 0 until 4; m <- 0 until 5)
      yield (g * 100L + m, vec(g, 0))
    val (survivors, report) = graft.operators.Dedup
      .semanticDedupWithReport(identRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding",
        threshold = 0.99, numClusters = 4, maxClusterSize = 3)
    assert(survivors.count() == identRows.size)
    val r = report.collect().head
    // groups may merge under the seeded init, but every non-empty
    // cluster is over-cap: between 1 and 4 skipped, all 20 docs
    assert(r.getLong(0) >= 1L && r.getLong(0) <= 4L,
      s"clusters_skipped=${r.getLong(0)}")
    assert(r.getLong(1) == 20L, s"docs_skipped=${r.getLong(1)}")
    assert(r.getDouble(2) == 1.0, s"corpus_fraction=${r.getDouble(2)}")
    // and a healthy corpus reports zero opt-outs
    val (_, clean) = graft.operators.Dedup
      .semanticDedupWithReport(df, "vec_id", "embedding",
        threshold = 0.99, numClusters = 4, maxClusterSize = 100)
    val c = clean.collect().head
    assert(c.getLong(0) == 0L && c.getLong(1) == 0L && c.getDouble(2) == 0.0,
      c.toString)
  }

  test("synthetic WAV tones decode with the expected physics") {
    import graft.operators.Multimodal
    // 8 kHz mono, 800 samples = 0.1 s; class 0 → 200 Hz tone
    val a = Multimodal.decodeAudio(
      Multimodal.MediaRow(0L, Multimodal.syntheticWav(0L))).get
    assert(a.sampleRate == 8000 && a.channels == 1)
    val (dur, rms, zcr, peak) = Multimodal.audioFeatures(a)
    assert(math.abs(dur - 0.1) < 1e-9)
    // sine RMS = A/sqrt(2); A = 16000/32768
    assert(math.abs(rms - 16000.0 / 32768 / math.sqrt(2)) < 0.01, rms)
    // zero crossings per sample ≈ 2 * f / rate
    assert(math.abs(zcr - 2 * 200.0 / 8000) < 0.01, zcr)
    assert(peak <= 1.0 && peak > 0.4)
    // the contract query decodes every synthesized payload
    val q = graft.queries.TextQueries.multimodalAudio(spark, sfDir)
    val n = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 200).count()
    assert(q.count() == n && q.columns.contains("rms"))
  }

  test("ORC round-trip preserves rows and types") {
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25)).toDF("id", "s", "v")
    val dir = java.nio.file.Files.createTempDirectory("orc").toString + "/t"
    graft.sources.CorpusFormats.writeOrc(df, dir)
    val back = graft.sources.CorpusFormats.readOrc(spark, dir)
    // names and types survive; nullability legitimately widens on read
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 1.5), (2L, "b", -2.25)))
  }

  test("z-score outliers: exact inside the 1e18 envelope, fail-fast beyond it") {
    import org.apache.spark.sql.functions.{col, lit}
    def frame(cents: Seq[BigDecimal]) = cents.zipWithIndex.map { case (c, i) =>
      (i.toLong, "g", c.toDouble / 100, c)
    }.toDF("event_id", "event_type", "value", "cents")
      .withColumn("cents", col("cents").cast("decimal(38,0)"))

    // inside the envelope: 11 small values + one far outlier → exactly
    // the outlier flagged, even with magnitudes near the guard (a
    // single extreme among n has z^2 <= n-1, so n must exceed 10 for
    // the 3-sigma test to fire at all)
    val small = (0 until 11).map(i => BigDecimal(1 + i % 2))
    val big = BigDecimal("50000000000000000") // 5e16; n=12 → n*max = 6e17 < 1e18
    val ok = graft.queries.Relational.zScoreOutliers(frame(small :+ big))
      .select("event_id").as[Long].collect().toSeq
    assert(ok == Seq(11L))

    // beyond it: n*max|cents| >= 1e18 must raise, not silently drop
    val over = BigDecimal("100000000000000000") // 1e17; n=12 → 1.2e18
    val e = intercept[Exception] {
      graft.queries.Relational.zScoreOutliers(frame(small :+ over)).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("1e18"),
      s"expected the overflow guard, got: ${e.getMessage}")
  }

  test("gopher rule bank: each rule fires on its crafted document, first failure attributed") {
    val good = "the quick brown fox and a dog of great renown went to town " * 5
    val docs = Seq(
      1L -> good,                                  // passes everything
      2L -> "the a of to and short",               // word_count
      3L -> (good + " " + "x" * 30),               // max_word_len
      4L -> ("the of " + Seq.fill(60)("12345 !!!!").mkString(" ")), // alpha_ratio
      5L -> Seq.fill(60)("zebra quartz").mkString(" "),         // stopwords
      // fails word_count AND stopwords -> word_count attributed (order)
      6L -> "zebra quartz").toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 40)
      .select("doc_id", "kept", "first_failed_rule")
      .as[(Long, Boolean, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(1L) == (true, null))
    assert(r(2L) == (false, "word_count"))
    assert(r(3L) == (false, "max_word_len"))
    assert(r(4L) == (false, "alpha_ratio"))
    assert(r(5L) == (false, "stopwords"))
    assert(r(6L) == (false, "word_count"))
  }

  test("bm25 matches a hand-computed score and routes top-k through the heap exec") {
    // corpus: 3 docs, query "fox dog"; hand-computed Okapi BM25 with
    // rational idf (N - df + 0.5)/(df + 0.5), k1 = 1.2, b = 0.75
    val docs = Seq(
      (1L, "fox fox dog"),       // dl 3
      (2L, "fox cat"),           // dl 2
      (3L, "bird bird bird")).toDF("doc_id", "text") // dl 3
    val got = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      Seq(1L -> "fox dog"), k = 3)
      .select("query_id", "doc_id", "bm25", "rank")
      .as[(Long, Long, Double, Long)].collect()
      .map(t => t._2 -> (t._3, t._4)).toMap
    val n = 3.0; val avgdl = 8.0 / 3.0
    def idf(df: Int) = (n - df + 0.5) / (df + 0.5)
    def term(tf: Int, df: Int, dl: Int) =
      idf(df) * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val d1 = r6(term(2, 2, 3) + term(1, 1, 3)) // fox df=2, dog df=1
    val d2 = r6(term(1, 2, 2))
    assert(math.abs(got(1L)._1 - d1) < 1e-9, s"doc1: ${got(1L)._1} vs $d1")
    assert(math.abs(got(2L)._1 - d2) < 1e-9)
    assert(!got.contains(3L), "doc without query terms must not score")
    assert(got(1L)._2 == 1L && got(2L)._2 == 2L)
    // plan gate: per-query top-k is the heap exec, not a window sort
    val plan = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      Seq(1L -> "fox dog"), k = 3).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected heap exec:\n$plan")
    assert(!plan.contains("Window"), s"no window sort expected:\n$plan")
  }

  test("group centroids: exact means, ordered dims, ragged vectors handled") {
    val vecs = Seq(
      ("a", Array(1.0f, 2.0f, 3.0f)),
      ("a", Array(3.0f, 6.0f, 9.0f)),
      ("b", Array(10.0f, 20.0f)),
      ("b", Array(30.0f, 40.0f, 50.0f))).toDF("label", "embedding")
    val got = Similarity.groupCentroids(vecs, "label", "embedding")
      .as[(String, Long, Seq[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(got("a") == ((2L, Seq(2.0, 4.0, 6.0))))
    // ragged: per-position mean over PRESENT elements; n = max count
    assert(got("b") == ((2L, Seq(20.0, 30.0, 50.0))))
    // real corpus: centroid count == label count; dims == 64
    val e = embs
    val real = Similarity.groupCentroids(e, "label", "embedding")
    val labels = e.select("label").distinct().count()
    assert(real.count() == labels)
    assert(real.selectExpr("size(centroid)").as[Int].collect().forall(_ == 64))
    // long form is the flat intermediate the array form re-assembles:
    // same means position-by-position, per-position n on ragged input
    val long = Similarity.groupCentroidsLong(vecs, "label", "embedding")
      .as[(String, Long, Double, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(long(("a", 0L)) == ((2.0, 2L)) && long(("a", 2L)) == ((6.0, 2L)))
    assert(long(("b", 2L)) == ((50.0, 1L)), "ragged tail counts only present elements")
    assert(long.size == 3 + 3)
  }

  test("cv folds: deterministic, in range, partition-invariant; foldSplit partitions the corpus") {
    import graft.operators.Sampling
    val df = (1L to 500L).map(i => (i, s"d$i")).toDF("id", "v")
    val folds = Sampling.cvFolds(df, "id", k = 5)
      .select($"id", $"fold").as[(Long, Long)].collect().toMap
    assert(folds.values.forall(f => f >= 0 && f < 5))
    // every fold is populated and roughly balanced (hash-uniform)
    val sizes = folds.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes.size == 5 && sizes.values.forall(s => s > 50 && s < 150),
      s"unbalanced folds: $sizes")
    // partition-invariant (portable hash, no RNG)
    val re = Sampling.cvFolds(df.repartition(13), "id", k = 5)
      .select($"id", $"fold").as[(Long, Long)].collect().toMap
    assert(re == folds)
    // a different salt redraws
    val salted = Sampling.cvFolds(df, "id", k = 5, salt = "cv2")
      .select($"id", $"fold").as[(Long, Long)].collect().toMap
    assert(salted != folds)
    // foldSplit: disjoint, exhaustive, test set == fold f
    val (train, test) = Sampling.foldSplit(df, "id", k = 5, fold = 2)
    val trainIds = train.select($"id").as[Long].collect().toSet
    val testIds = test.select($"id").as[Long].collect().toSet
    assert((trainIds & testIds).isEmpty)
    assert(trainIds ++ testIds == folds.keySet)
    assert(testIds == folds.filter(_._2 == 2L).keySet)
  }

  test("bigram LM score matches a hand computation") {
    // corpus: "a b a" and "b a"; unigrams: a=3, b=2, N=5
    // bigrams: (a,b)=1, (b,a)=2
    val docs = Seq((1L, "a b a"), (2L, "b a")).toDF("doc_id", "text")
    val got = graft.queries.TextQueries.bigramLm(spark,
      writeTmpDocs(docs))
    val byId = got.as[(Long, Double)].collect().toMap
    def p(cb: Double, cprev: Double, ccur: Double) =
      0.5 * (cb / cprev) + 0.5 * (ccur / 5.0)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // doc 1: positions (a,b), (b,a)
    val d1 = r6((-math.log(p(1, 3, 2)) + -math.log(p(2, 2, 3))) / 2.0)
    val d2 = r6(-math.log(p(2, 2, 3)))
    assert(math.abs(byId(1L) - d1) < 1e-9, s"${byId(1L)} vs $d1")
    assert(math.abs(byId(2L) - d2) < 1e-9)
  }

  /** Write docs to a temp dir shaped like a testdata sf dir (the
    * TableCatalog contract the contract queries read through).
    */
  private def writeTmpDocs(docs: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("gopher stopword rule matches case-insensitively with trailing punctuation stripped") {
    // the published heuristic counts 'The' and 'the,' as stopword hits;
    // a case/punctuation-sensitive match undercounts on real prose
    val body = Seq.fill(50)("zebra quartz").mkString(" ")
    val docs = Seq(
      1L -> s"The, of. and $body",   // 3 distinct stopwords, via case+punct
      2L -> s"zebra $body").toDF("doc_id", "text")
    val r = TextAnalysis.gopherRules(docs, "doc_id", "text", minWords = 40)
      .select("doc_id", "n_stop_distinct", "first_failed_rule")
      .as[(Long, Long, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(1L)._1 == 3L,
      s"'The,'/'of.'/'and' must all count as stopwords, got ${r(1L)._1}")
    assert(r(1L)._2 == null)
    assert(r(2L) == (0L, "stopwords"))
  }
}
