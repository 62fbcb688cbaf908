package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline operators: dedup family, ANN, text analysis,
  * multimodal plumbing.
  */
class OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("ops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val baseText =
    "def compute(index (value)) = buffer.stream(count) { result => parser.handle(result) }"

  test("exactDedup keeps min id with dupe counts") {
    val df = Seq((10L, "aaa"), (3L, "aaa"), (5L, "bbb"), (7L, "aaa"))
      .toDF("doc_id", "text")
    val out = DedupOps.exactDedup(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((3L, 3L), (5L, 1L)))
  }

  test("minhashPairs finds planted near-dups, skips dissimilar") {
    val near = baseText + " trailing change"
    val docs = Seq(
      (1L, baseText), (2L, near), // near-dup pair
      (3L, "completely different content about cooking recipes and pasta sauce"),
      (4L, baseText)) // exact dup of 1
      .toDF("doc_id", "text")
    val pairs = DedupOps.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact dup (4 == 1) comes from the pre-collapse stage with jaccard 1.0;
    // dup members inherit the representative's near-dup matches, so (2,4)
    // is implied by (1,2) + (1,4) rather than emitted
    assert(pairs.contains((1L, 4L)), s"exact dup must collide: $pairs")
    assert(pairs.contains((1L, 2L)), s"near dup: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"no false pair with 3: $pairs")
  }

  test("hot-bucket defense: boilerplate flood stays bounded") {
    // 3000 exact copies + 400 distinct-but-near-identical docs (common body,
    // unique suffix): unbounded LSH would self-join a 400-doc bucket per
    // band; the cap drops oversized buckets, the collapse kills the copies
    val body = ("boilerplate header " * 40).trim
    val docs = (
      (1L to 3000L).map(i => (i, body)) ++
        (3001L to 3400L).map(i => (i, s"$body unique tail $i"))
      ).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val pairs = DedupOps.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5, maxBucket = 50)
    val exactPairs = pairs.filter(col("jaccard") === 1.0).count()
    val nearPairs = pairs.filter(col("jaccard") < 1.0).count()
    val sec = (System.nanoTime() - t0) / 1e9
    // 2999 (rep=1, dup) pairs from the collapse; near-dup candidates bounded
    // by maxBucket^2/2 per (band,bucket), NOT 400^2
    assert(exactPairs == 2999L, s"collapse pairs: $exactPairs")
    assert(nearPairs <= 16L * 50 * 50, s"capped candidates: $nearPairs")
    assert(sec < 120, s"flood must not blow up: $sec s")
    val sim = DedupOps.simhashPairs(docs, "doc_id", "text", maxBucket = 50)
    assert(sim.filter(col("hamming") === 0 && col("id_a") === 1L).count() == 2999L)
  }

  test("jaccard + shingles basics") {
    val a = DedupOps.shingles("abcdefgh", 5)
    assert(DedupOps.jaccard(a, a) == 1.0)
    val b = DedupOps.shingles("zzzzzzzz", 5)
    assert(DedupOps.jaccard(a, b) == 0.0)
  }

  test("simhash: identical => 0 hamming; pairs found via banding") {
    val h1 = DedupOps.simhash64(baseText)
    val h2 = DedupOps.simhash64(baseText)
    assert(h1 == h2)
    val edited = baseText.replace("compute", "computa")
    val hd = java.lang.Long.bitCount(h1 ^ DedupOps.simhash64(edited))
    assert(hd <= 16, s"small edit should move few bits, got $hd")

    val docs = Seq((1L, baseText), (2L, baseText), (3L, "xyz " * 50)).toDF("doc_id", "text")
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("embeddingPairs finds near-identical vectors") {
    val rnd = new scala.util.Random(3)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val v1 = vec(1)
    val v1b = v1.clone(); v1b(0) = v1b(0) + 0.01f
    val rows = Seq((1L, v1), (2L, v1b)) ++ (3L to 30L).map(i => (i, vec(i.toInt)))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = DedupOps.embeddingPairs(df, "vec_id", "embedding", threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"planted pair missing: $pairs")
  }

  test("embeddingPairs: identical-vector flood collapses, hot buckets capped + observable") {
    val rnd = new scala.util.Random(5)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    // 5000 EXACT copies: must pre-collapse to one representative (never
    // enter the LSH self-join) and emit (1, i, 1.0) for every copy
    val flood = (1L to 5000L).map(i => (i, base.clone()))
    // 300 DISTINCT near-copies of a second vector: same sign bucket, so a
    // maxBucket cap below 300 must drop (part of) that bucket, observably
    val base2 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val cluster = (10001L to 10300L).map { i =>
      val v = base2.clone(); v(0) = v(0) + (i - 10000L) * 1e-6f; (i, v)
    }
    val df = (flood ++ cluster).toDF("vec_id", "embedding").repartition(8)
    val obs = org.apache.spark.sql.Observation("emb_dropped")
    val pairs = DedupOps.embeddingPairs(df, "vec_id", "embedding",
      threshold = 0.99, maxBucket = 50, droppedObs = Some(obs))
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val dupPairs = pairs.filter(_._1 == 1L)
    assert(dupPairs.length == 4999, s"all exact copies collapse to rep 1: ${dupPairs.length}")
    assert(obs.get("dropped_bucket_rows").asInstanceOf[Long] > 0,
      "over-cap bucket rows must be observable")
    // candidates stayed bounded: nothing from the capped cluster leaked
    assert(pairs.length == 4999, s"capped cluster must emit no pairs: ${pairs.length}")
  }

  test("LongSet matches java.util.HashSet semantics across growth") {
    val rnd = new scala.util.Random(97)
    val ref = new java.util.HashSet[java.lang.Long]()
    val s = new DedupOps.LongSet(4) // force several growth rounds
    val vals = Array.fill(5000)(rnd.nextLong() % 1000) :+ 0L :+ Long.MinValue :+ Long.MaxValue
    vals.foreach { v =>
      assert(s.add(v) == ref.add(v), s"add($v) disagreed")
    }
    assert(s.size == ref.size)
    vals.foreach(v => assert(s.contains(v)))
    assert(!s.contains(123456789012345L))
    assert(s.toArray.sorted.toSeq == ref.toArray.map(_.asInstanceOf[Long]).sorted.toSeq)
  }

  test("bucket cap boundary: exactly-at-cap bucket emits pairs, cap+1 drops") {
    val rnd = new scala.util.Random(31)
    // one cluster of DISTINCT near-copies that all land in one sign bucket
    def cluster(n: Int): Seq[(Long, Array[Float])] = {
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      (1L to n.toLong).map { i =>
        val v = base.clone(); v(0) = v(0) + i * 1e-6f; (i, v)
      }
    }
    val atCap = cluster(40).toDF("vec_id", "embedding")
    val pairsAt = DedupOps.embeddingPairs(atCap, "vec_id", "embedding",
      threshold = 0.99, maxBucket = 40).count()
    assert(pairsAt == 40L * 39 / 2, s"exactly-at-cap bucket must emit all pairs: $pairsAt")
    val overCap = cluster(41).toDF("vec_id", "embedding")
    val obs = org.apache.spark.sql.Observation()
    val pairsOver = DedupOps.embeddingPairs(overCap, "vec_id", "embedding",
      threshold = 0.99, maxBucket = 40, droppedObs = Some(obs)).count()
    assert(pairsOver == 0L, s"over-cap bucket must emit nothing: $pairsOver")
    assert(obs.get("dropped_bucket_rows").asInstanceOf[Long] == 41L,
      "dropped count = full bucket size")
  }

  test("ANN ops tolerate an empty query set") {
    val rnd = new scala.util.Random(77)
    val corpus = (1L to 50L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val noQueries = corpus.filter(col("vec_id") < 0)
    assert(SimilarityOps.bruteForceTopK(corpus, noQueries, "vec_id", "embedding", 3).count() == 0)
    assert(SimilarityOps.lshTopK(corpus, noQueries, "vec_id", "embedding", 3).count() == 0)
  }

  test("lshTopK and ivfTopK organic recall vs brute force stays above floor") {
    val rnd = new scala.util.Random(23)
    val corpus = (1L to 600L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val corpusDf = corpus.toDF("vec_id", "embedding").repartition(4)
    val queryDf = corpus.take(10).toDF("vec_id", "embedding")
    val brute = SimilarityOps.bruteForceTopK(corpusDf, queryDf, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(res: org.apache.spark.sql.DataFrame): Double = {
      val got = res.select("query_id", "corpus_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      brute.map { case (q, exact) =>
        got.getOrElse(q, Set.empty).intersect(exact).size.toDouble / exact.size
      }.sum / brute.size
    }
    val lshRecall = recallOf(
      SimilarityOps.lshTopK(corpusDf, queryDf, "vec_id", "embedding", k = 5))
    val ivfRecall = recallOf(
      SimilarityOps.ivfTopK(corpusDf, queryDf, "vec_id", "embedding", k = 5,
        nCentroids = 8, nProbe = 4))
    assert(lshRecall >= 0.4, s"LSH multiprobe recall floor: $lshRecall")
    assert(ivfRecall >= 0.6, s"IVF nProbe=4/8 recall floor: $ivfRecall")
  }

  test("ivfTopK recall holds on a skewed-id corpus (uniform training sample)") {
    // ids correlate with content: low ids cluster around center A, high ids
    // (a "newer crawl shard") around a far center B. A lowest-id training
    // sample would model only A and collapse recall for B-region queries;
    // the hash-ordered uniform sample must cover both.
    val rnd = new scala.util.Random(41)
    def around(center: Array[Float]): Array[Float] =
      center.map(c => c + 0.15f * rnd.nextGaussian().toFloat)
    val centerA = Array.fill(8)(rnd.nextGaussian().toFloat)
    val centerB = centerA.map(-_) // opposite direction: clearly separated
    val lowIds = (1L to 600L).map(i => (i, around(centerA)))
    val highIds = (1000001L to 1000600L).map(i => (i, around(centerB)))
    val corpusDf = (lowIds ++ highIds).toDF("vec_id", "embedding").repartition(4)
    val queryDf = highIds.take(10).toDF("vec_id", "embedding")
    val brute = SimilarityOps.bruteForceTopK(corpusDf, queryDf, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // sampleSize 64 << corpus size forces a real subsample
    val ivf = SimilarityOps.ivfTopK(corpusDf, queryDf, "vec_id", "embedding", k = 5,
      nCentroids = 8, nProbe = 2, sampleSize = 64)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = brute.map { case (q, exact) =>
      ivf.getOrElse(q, Set.empty).intersect(exact).size.toDouble / exact.size
    }.sum / brute.size
    assert(recall >= 0.6, s"IVF must keep recall on the high-id shard: $recall")
  }

  test("btr stream sink: micro-batches land as idempotent btr tables") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = {
      val p = java.nio.file.Paths.get("target", "tmp", "ops_stream_btr")
      def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
      if (p.toFile.exists()) rm(p.toFile)
      "file:" + p.toAbsolutePath
    }
    val mem = MemoryStream[(Int, String)]
    def start() = mem.toDF().toDF("id", "s").writeStream.format("btr")
      .option("checkpointLocation", s"$base/ckpt").start(s"$base/btr")
    val q = start()
    try {
      mem.addData((1, "a"), (2, "bb"))
      q.processAllAvailable()
      mem.addData((3, "ccc"))
      q.processAllAvailable()
    } finally q.stop()
    def back = spark.read.format("btr").load(s"$base/btr")
    assert(back.count() == 3)
    assert(back.orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "bb"), (3, "ccc")))
    // a replayed batch (restart semantics) sees its manifest and skips:
    // manifest mtime unchanged after re-running the stream over the same
    // checkpoint (no new data, and batch dirs are idempotent)
    val m0 = s"$base/btr/batch=0/${graft.engine.BtrTable.ManifestFile}".stripPrefix("file:")
    val mtime = java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(m0))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(m0)) == mtime)
    assert(back.count() == 3)
  }

  test("bruteForceTopK matches naive exact computation") {
    val rnd = new scala.util.Random(11)
    val corpus = (1L to 200L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val queries = corpus.take(3).map { case (id, v) => (id + 1000, v) }
    val corpusDf = corpus.toDF("vec_id", "embedding").repartition(4)
    val queryDf = queries.toDF("vec_id", "embedding")
    val got = SimilarityOps.bruteForceTopK(corpusDf, queryDf, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id", "rank").as[(Long, Long, Int)]
      .collect().groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // naive check
    queries.foreach { case (qid, qv) =>
      val expect = corpus
        .map { case (cid, cv) => (cid, SimilarityOps.cosine(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(5).map(_._1)
      assert(got(qid) == expect, s"query $qid: ${got(qid)} vs $expect")
      assert(got(qid).head == qid - 1000, "self vector must be rank 1")
    }
  }

  test("lshTopK: self-match is rank 1; results are a plausible subset") {
    val rnd = new scala.util.Random(13)
    val corpus = (1L to 500L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val corpusDf = corpus.toDF("vec_id", "embedding").repartition(4)
    val queryDf = corpus.take(2).toDF("vec_id", "embedding")
    val got = SimilarityOps.lshTopK(corpusDf, queryDf, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 2L, s"self must be rank1: $got")
  }

  test("lshTopK: a vector of another dimension fails with a named error") {
    val rnd = new scala.util.Random(19)
    val corpus = (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val corpusDf = corpus.toDF("vec_id", "embedding").repartition(2)
    val queryDf = corpus.take(2).toDF("vec_id", "embedding")
    val shortQuery = (corpus.take(2) :+ ((99L, Array.fill(6)(1f)))).toDF("vec_id", "embedding")
    val q = intercept[IllegalArgumentException](
      SimilarityOps.lshTopK(corpusDf, shortQuery, "vec_id", "embedding", k = 3).collect())
    assert(q.getMessage.contains("query vector 99 has dimension 6") &&
      q.getMessage.contains("dimension 8"), q.getMessage)
    val shortCorpus = (corpus :+ ((77L, Array.fill(6)(1f)))).toDF("vec_id", "embedding")
    val c = intercept[Exception](
      SimilarityOps.lshTopK(shortCorpus, queryDf, "vec_id", "embedding", k = 3).collect())
    val causes = Iterator.iterate[Throwable](c)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(e => e.isInstanceOf[IllegalArgumentException] &&
      e.getMessage.contains("corpus vector 77 has dimension 6")), c.toString)
  }

  test("brute-force, IVF and embedding-pair cosines refuse mixed dimensions") {
    def failure(f: => Any): String = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case a: IllegalArgumentException => a.getMessage }
        .getOrElse(fail(s"no IllegalArgumentException in $e"))
    }
    val rnd = new scala.util.Random(23)
    val corpus = (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val mixed = (corpus :+ ((77L, Array.fill(6)(1f)))).toDF("vec_id", "embedding").repartition(2)
    val queryDf = corpus.take(2).toDF("vec_id", "embedding")
    val brute = failure(SimilarityOps.bruteForceTopK(mixed, queryDf, "vec_id", "embedding", 3).collect())
    assert(brute.contains("has dimension 8") && brute.contains("vector 77 has dimension 6"), brute)
    val ivf = failure(SimilarityOps.ivfTopK(mixed, queryDf, "vec_id", "embedding", 3).collect())
    // the sample's first vector sets the dimension: either side may be named
    assert(ivf.contains("ivfTopK: ") && ivf.contains("dimension 6") && ivf.contains("dimension 8"), ivf)
    // planes = 0 puts every vector in one bucket: a dim-8 vector and its
    // dim-6 prefix meet there, and over the prefix alone they score 1.0
    val v8 = Array.tabulate(8)(i => (i + 1).toFloat)
    val prefix = Seq((1L, v8), (2L, v8.take(6))).toDF("vec_id", "embedding")
    val pairs = failure(DedupOps.embeddingPairs(prefix, "vec_id", "embedding", planes = 0).collect())
    assert(pairs.contains("vector 1 has dimension 8") && pairs.contains("vector 2 has dimension 6"), pairs)
  }

  test("ivfTopK: self-match is rank 1, recall overlaps brute force") {
    val rnd = new scala.util.Random(17)
    val corpus = (1L to 400L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val corpusDf = corpus.toDF("vec_id", "embedding").repartition(4)
    val queryDf = corpus.take(3).toDF("vec_id", "embedding")
    val ivf = SimilarityOps.ivfTopK(corpusDf, queryDf, "vec_id", "embedding", k = 5,
      nCentroids = 8, nProbe = 4)
      .select("query_id", "corpus_id", "rank").as[(Long, Long, Int)].collect()
    val self = ivf.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
    assert(self == Map(1L -> 1L, 2L -> 2L, 3L -> 3L), s"self must be rank1: $self")
    // with half the buckets probed, expect reasonable overlap with exact
    val brute = SimilarityOps.bruteForceTopK(corpusDf, queryDf, "vec_id", "embedding", 5)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().groupBy(_._1)
    val overlap = ivf.groupBy(_._1).map { case (q, rows) =>
      rows.map(_._2).toSet.intersect(brute(q).map(_._2).toSet).size
    }
    assert(overlap.forall(_ >= 2), s"ivf should recall >=2/5 exact neighbors: $overlap")
  }

  test("text ops: tokens, quality, langid, fingerprint") {
    val df = Seq(
      (1L, "The cat and the dog are in the house."),
      (2L, "Der Hund und die Katze sind nicht mit der Maus."),
      (3L, ""),
      (4L, "x")).toDF("doc_id", "text")
    val out = TextOps.quality(df, "text")
      .withColumn("lang_pred", TextOps.languageId(col("text")))
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_tokens") == 9)
    assert(out(3L).getAs[Long]("n_tokens") == 0)
    assert(out(1L).getAs[String]("lang_pred") == "en")
    assert(out(2L).getAs[String]("lang_pred") == "de")
    assert(out(1L).getAs[Double]("stopword_ratio") > 0.3)
    // fingerprint: equal content => equal fp
    val fp1 = out(1L).getAs[Long]("fp")
    val again = Seq((9L, "The cat and the dog are in the house.")).toDF("doc_id", "text")
      .select(TextOps.fingerprint(col("text"))).head().getLong(0)
    assert(fp1 == again)
  }

  test("streaming append-mode file sink emits finalized windows only") {
    import java.nio.file.Paths
    def rm(f: java.io.File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    val base = Paths.get("target", "tmp", "stream_files").toFile
    if (base.exists()) rm(base)
    base.mkdirs()
    // static events table: 100 events over ~100 minutes for 2 types
    val src = Paths.get("target", "tmp", "stream_files", "src").toString
    val events = (0 until 100).map { i =>
      (i.toLong % 5, java.sql.Timestamp.valueOf(f"2025-01-01 10:${i % 60}%02d:00"),
        if (i % 2 == 0) "click" else "view", i * 1.0)
    }.toDF("user_id", "ts", "event_type", "value")
    // testdata layout: events.parquet is a single FILE (the glob filter in
    // the streaming source matches leaf file names)
    events.coalesce(1).write.mode("overwrite").parquet(s"$src/staging")
    val part = Paths.get(src, "staging").toFile.listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(Paths.get(src))
    java.nio.file.Files.move(part.toPath, Paths.get(src, "events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

    val out = s"$base/out"
    StreamingOps.windowedEventCountsToFiles(spark, src, out, s"$base/ckpt")
    val emitted = spark.read.parquet(out)
    // append mode: all windows strictly below (maxTs - 10min watermark)
    // finalize; the tail windows stay open. Emitted rows must agree with
    // the batch aggregation exactly.
    assert(emitted.count() > 0, "finalized windows must be emitted")
    val batch = events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("window.start").cast("string").as("window_start"),
        col("event_type"), col("n_events"), col("min_value"), col("max_value"))
    assert(emitted.except(batch).count() == 0,
      "every emitted window must match the batch aggregation")
    assert(emitted.count() < batch.count(),
      "open tail windows must not be emitted in append mode")
  }

  test("multimodal: binary plumbing, stub decode features, frame sampling") {
    val docs = Seq((1L, "hello media"), (2L, "second payload longer"), (3L, "video doc"))
      .toDF("doc_id", "text")
    val media = MultimodalOps.mediaFromDocuments(docs)
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = MultimodalOps.extractFeatures(media).collect()
    assert(feats.length == 3)
    feats.foreach { r =>
      assert(r.getAs[Long]("payload_bytes") > 0)
      assert(r.getAs[Double]("entropy") >= 0.0)
    }
    val frames = MultimodalOps.sampleFrames(media, maxFrames = 4)
    val byId = frames.groupBy("media_id").count().as[(Long, Long)].collect().toMap
    byId.values.foreach(n => assert(n <= 5, s"frame sampling must bound frames: $byId"))
  }
}
