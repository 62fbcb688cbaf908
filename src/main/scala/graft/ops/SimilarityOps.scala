package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an Array[Float] embedding
  * column.
  *
  * Baseline: brute-force cosine top-k — ONE scan of the corpus with the
  * (small) query set broadcast and a per-partition bounded heap, so the
  * shuffle carries only numQueries × k candidate rows, never the corpus.
  * Scale path: random-hyperplane LSH bucketing — probe only the query's
  * bucket (plus multiprobe neighbors), trading recall for a corpus-fraction
  * scan.
  */
object SimilarityOps {

  /** 4-decimal rounding shared by ranking, heap eviction, and the DuckDB
    * oracle (floor(x*1e4+0.5)/1e4 — identical IEEE ops on both engines).
    * Ranking must happen on the ROUNDED value: two cosines differing only
    * in the 5th decimal are a tie that the id tie-break must decide the
    * same way everywhere, else top-k membership flips between engines.
    */
  @inline def round4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000

  /** Deterministic random-hyperplane family keyed on (seed, planes, dim),
    * built lazily PER EXECUTOR (scala.util.Random's Gaussian sequence is
    * platform-independent, so every task sees identical planes). Replaces
    * a driver-side build + broadcast — and the `head()` job that was needed
    * just to learn `dim` before any task could run. The cache keeps the
    * `MaxPlaneFamilies` most recently used families, so a job sweeping
    * seeds or dims cannot grow it without bound.
    */
  private final val MaxPlaneFamilies = 8
  private val planeCache =
    new java.util.LinkedHashMap[(Long, Int, Int), Array[Array[Double]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Long, Int, Int), Array[Array[Double]]]): Boolean =
        size() > MaxPlaneFamilies
    }
  private def hyperplanes(seed: Long, planes: Int, dim: Int): Array[Array[Double]] =
    planeCache.synchronized {
      planeCache.computeIfAbsent((seed, planes, dim), { _ =>
        val rnd = new scala.util.Random(seed)
        Array.fill(planes, dim)(rnd.nextGaussian())
      })
    }

  /** Cosine of two vectors of one dimension; vectors of two dimensions
    * have none and fail with an IllegalArgumentException.
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"cosine of vectors of dimensions ${a.length} and ${b.length}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** `cosine` of vector `idA` and vector `idB`; a dimension mismatch fails
    * with an IllegalArgumentException naming both vectors.
    */
  def cosine(op: String, idA: Long, a: Array[Float], idB: Long, b: Array[Float]): Double = {
    require(a.length == b.length,
      s"$op: vector $idA has dimension ${a.length}, but vector $idB has dimension ${b.length}")
    cosine(a, b)
  }

  /** Shared ANN engine: ONE corpus pass with a k-bounded heap per query,
    * then a global per-query top-k merge of the (numQueries × k per
    * partition) partials. Queries are collected + broadcast — they must be
    * small, the premise of broadcast ANN. `bucketOf` maps a corpus vector
    * to its bucket; a query scores it only when the bucket is in the
    * query's `probes` set (null probes = exact/brute: score everything);
    * it also gets the corpus id, for error messages. A corpus vector of
    * another dimension than the query it is scored against fails with an
    * IllegalArgumentException naming both (`op` names the caller).
    * The shuffle carries only candidate ids+cosines, never the corpus —
    * the only shape that survives a 100 TB corpus (guide §2.3: shuffle
    * keys and metadata, not payloads).
    */
  private def heapTopK(
      op: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      qs: Array[(Long, Array[Float])],
      bucketOf: (Long, Array[Float]) => Int,
      probes: Array[Array[Int]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qsB = spark.sparkContext.broadcast(qs)
    val partials = corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = qsB.value
        // per-query bounded min-heap over the ROUNDED cosine with the final
        // (cosine desc, corpus_id asc) order — head = worst = (lowest
        // cosine, highest id), so rounded ties evict exactly the row the
        // global ranking would drop
        val heaps = Array.fill(queries.length)(
          new java.util.PriorityQueue[(Double, Long)](
            k, (x: (Double, Long), y: (Double, Long)) => {
              val c = java.lang.Double.compare(x._1, y._1)
              if (c != 0) c else java.lang.Long.compare(y._2, x._2)
            }))
        it.foreach { case (cid, cvec) =>
          val b = if (probes == null || queries.isEmpty) 0 else bucketOf(cid, cvec)
          var q = 0
          while (q < queries.length) {
            if (probes == null || java.util.Arrays.binarySearch(probes(q), b) >= 0) {
              val c = round4(cosine(op, queries(q)._1, queries(q)._2, cid, cvec))
              val h = heaps(q)
              if (h.size < k) h.add((c, cid))
              else {
                val worst = h.peek()
                if (c > worst._1 || (c == worst._1 && cid < worst._2)) { h.poll(); h.add((c, cid)) }
              }
            }
            q += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
          val qid = qsB.value(q)._1
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          while (!h.isEmpty) { val (c, cid) = h.poll(); buf += ((qid, cid, c)) }
          buf
        }
      }
      .toDF("query_id", "corpus_id", "cosine")

    // merge per-partition partials to the global top-k per query (cosine
    // already rounded — the window order matches the heap order)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    partials
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
  }

  private def collectQueries(
      queries: DataFrame, idCol: String, vecCol: String): Array[(Long, Array[Float])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .collect()
  }

  /** Exact top-k by cosine for each query vector (the heapTopK engine with
    * no bucket filter).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame =
    heapTopK("bruteForceTopK", corpus, idCol, vecCol, k,
      collectQueries(queries, idCol, vecCol), (_, _) => 0, null)

  /** IVF (inverted-file) ANN: k-means centroids trained on a deterministic
    * driver-side sample partition the corpus into nCentroids buckets; each
    * query probes its nProbe nearest centroids' buckets, then exact top-k
    * within the candidates. Cost ≈ nProbe/nCentroids of the corpus per
    * query; centroids broadcast, corpus bucketing is one map pass. Every
    * sample, query and corpus vector must have the first sample vector's
    * dimension; a mismatch fails with an IllegalArgumentException naming
    * the vector.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 3,
      kmeansIters: Int = 4,
      sampleSize: Int = 2048): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    // deterministic UNIFORM training sample: order by a hash of the id, not
    // the id itself — on a real corpus ids correlate with crawl time/source,
    // so lowest-id training would model only the oldest shard and quietly
    // collapse recall (round-3 verdict #3). xxhash64 keeps the sample
    // reproducible and the plan a single bounded TakeOrdered job.
    val sample = vecs.orderBy(xxhash64(col(idCol).cast("long")), col(idCol).cast("long"))
      .limit(sampleSize).collect()
    require(sample.nonEmpty, "empty corpus")
    val dim = sample(0)._2.length
    val ref = "the training sample vectors"
    val train: Array[Array[Float]] =
      sample.map { case (id, v) => checkDim("ivfTopK", "sample", id, v, ref, dim) }
    // deterministic init: evenly spaced sample vectors
    var centroids = Array.tabulate(math.min(nCentroids, train.length)) { c =>
      train((c.toLong * train.length / math.min(nCentroids, train.length)).toInt)
        .map(_.toDouble)
    }
    for (_ <- 0 until kmeansIters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      train.foreach { v =>
        val c = nearest(centroids, v)
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
        counts(c) += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    val centB = spark.sparkContext.broadcast(centroids)

    // probe sets computed driver-side over the (small, already collected)
    // query set; candidates never leave their corpus partition — the former
    // shape shuffled the bucketed corpus (vectors and all) through a join
    // plus a second exchange for the rank window (guide §2.3/§2.4)
    val qs = collectQueries(queries, idCol, vecCol)
    val probes: Array[Array[Int]] = qs.map { case (id, qv) =>
      checkDim("ivfTopK", "query", id, qv, ref, dim)
      val cents = centB.value
      val byDist = cents.indices.sortBy(c => -cosineD(cents(c), qv))
      byDist.take(nProbe).sorted.toArray
    }
    heapTopK("ivfTopK", corpus, idCol, vecCol, k, qs,
      (id, v) => nearest(centB.value, checkDim("ivfTopK", "corpus", id, v, ref, dim)), probes)
  }

  private def nearest(centroids: Array[Array[Double]], v: Array[Float]): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val s = cosineD(centroids(c), v)
      if (s > bestSim) { bestSim = s; best = c }
      c += 1
    }
    best
  }

  private def cosineD(a: Array[Double], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** LSH-bucketed ANN: random-hyperplane signatures bucket the corpus; each
    * query probes its own bucket and all hamming-1 neighbor buckets
    * (multiprobe), then exact top-k within candidates. Recall < 1, cost ≈
    * (planes+1)/2^planes of the corpus per query. Every query and corpus
    * vector must have the first query's dimension; hyperplanes of another
    * dimension would bucket it meaninglessly, so a mismatch fails with an
    * IllegalArgumentException naming the vector.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 10,
      seed: Long = 7L): DataFrame = {
    // each query probes its own bucket + all hamming-1 buckets (multiprobe);
    // probe sets are computed driver-side from the deterministic per-
    // executor hyperplane family (no dim-probe job, no broadcast build) and
    // the corpus is scanned ONCE with per-query heaps — the former shape
    // shuffled the full corpus vectors through a bucket join, then paid a
    // dropDuplicates plus a rank-window exchange on the candidates
    val qs = collectQueries(queries, idCol, vecCol)
    val dim = qs.headOption.fold(0)(_._2.length)
    val probes: Array[Array[Int]] = qs.map { case (id, qv) =>
      val s = lshBucket("query", id, qv, dim, planes, seed)
      (Seq(s) ++ (0 until planes).map(b => s ^ (1 << b))).distinct.sorted.toArray
    }
    heapTopK("lshTopK", corpus, idCol, vecCol, k, qs, lshBucket("corpus", _, _, dim, planes, seed), probes)
  }

  private def lshBucket(kind: String, id: Long, v: Array[Float], dim: Int, planes: Int, seed: Long): Int =
    signBucket(checkDim("lshTopK", kind, id, v, "the queries", dim), planes, seed)

  /** `v`, vector `id` of the `kind` side of `op`, when it has `ref`'s
    * dimension `dim`; otherwise a named IllegalArgumentException.
    */
  private def checkDim(op: String, kind: String, id: Long, v: Array[Float], ref: String, dim: Int): Array[Float] = {
    require(v.length == dim, s"$op: $kind vector $id has dimension ${v.length}, but $ref have dimension $dim")
    v
  }

  /** Sign-LSH bucket of one vector under the (seed, planes, v.length)-keyed
    * hyperplane family.
    */
  private[ops] def signBucket(v: Array[Float], planes: Int, seed: Long): Int = {
    val h = hyperplanes(seed, planes, v.length)
    var sig = 0
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += h(p)(i) * v(i); i += 1 }
      if (dot >= 0) sig |= 1 << p
      p += 1
    }
    sig
  }
}
