package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around ONE banding/bucket shuffle instead of any O(n²) comparison —
  * the only shape that survives 10^12 documents:
  *
  *  - exact:   hash-groupBy on content (full shuffle of keys only)
  *  - minhash: shingle → minhash signature → LSH bands → bucket join →
  *             verify exact Jaccard on candidates only
  *  - simhash: 64-bit weighted token hash → 4×16-bit block banding
  *             (pigeonhole: hamming ≤ 3 ⇒ one block equal) → verify
  *  - embedding: random-hyperplane sign LSH → bucket → verify cosine
  *
  * Every step is deterministic (seeded hash families) so resumed runs and
  * oracle checks see identical pairs.
  */
object DedupOps {

  @inline private def mix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  // ----------------------------------------------------------------- exact

  /** Keep the lowest id per distinct content; adds n_dupes. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dupes"))
      .select(col(idCol), col("n_dupes"))

  // --------------------------------------------------------------- minhash

  /** Minimal open-addressing long set — the shingle/jaccard hot path built
    * ~10⁷ boxed java.lang.Longs per dedup run through java.util.HashSet;
    * this keeps the same value-set semantics allocation-free (both
    * consumers — the min-over-hashes signature and the intersection count —
    * are iteration-order-independent).
    */
  private[ops] final class LongSet(expected: Int) {
    private var cap = { var c = 16; while (c < expected * 2) c <<= 1; c }
    private var keys = new Array[Long](cap)
    private var occ = new Array[Boolean](cap)
    private var n = 0
    def size: Int = n
    /** Adds k; returns true when it was not present. */
    def add(k: Long): Boolean = {
      if (n * 2 >= cap) grow()
      var h = (mix64(k) & (cap - 1)).toInt
      while (occ(h)) {
        if (keys(h) == k) return false
        h = (h + 1) & (cap - 1)
      }
      keys(h) = k; occ(h) = true; n += 1
      true
    }
    def contains(k: Long): Boolean = {
      var h = (mix64(k) & (cap - 1)).toInt
      while (occ(h)) {
        if (keys(h) == k) return true
        h = (h + 1) & (cap - 1)
      }
      false
    }
    private def grow(): Unit = {
      val ok = keys; val oo = occ
      cap <<= 1
      keys = new Array[Long](cap)
      occ = new Array[Boolean](cap)
      n = 0
      var i = 0
      while (i < ok.length) { if (oo(i)) add(ok(i)); i += 1 }
    }
    def toArray: Array[Long] = {
      val out = new Array[Long](n)
      var i = 0
      var o = 0
      while (i < keys.length) { if (occ(i)) { out(o) = keys(i); o += 1 }; i += 1 }
      out
    }
  }

  /** Character shingles of length k as a long-hash set. */
  def shingles(text: String, k: Int): Array[Long] = {
    if (text.length < k) return Array(mix64(text.hashCode.toLong))
    val set = new LongSet(math.min(1 << 10, text.length - k + 2))
    var i = 0
    while (i + k <= text.length) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < k) { h = (h ^ text.charAt(i + j)) * 0x100000001b3L; j += 1 }
      set.add(mix64(h))
      i += 1
    }
    set.toArray
  }

  /** numHashes-minhash signature via the one-permutation trick family
    * h_i(x) = mix(x ^ seed_i) (distinct seeded functions). The per-function
    * seed mixes are hoisted out of the shingle loop — they are shingle-
    * invariant, and recomputing them inside it doubled the mix64 count of
    * the signature pass (shingles × numHashes extra mixes; the signature
    * pass dominates dedup_minhash CPU).
    */
  def minhashSignature(sh: Array[Long], numHashes: Int, seed: Long): Array[Long] = {
    val seedMix = new Array[Long](numHashes)
    var f0 = 0
    while (f0 < numHashes) { seedMix(f0) = mix64(seed + f0); f0 += 1 }
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val shv = sh(i)
      var f = 0
      while (f < numHashes) {
        val h = mix64(shv ^ seedMix(f))
        if (h < sig(f)) sig(f) = h
        f += 1
      }
      i += 1
    }
    sig
  }

  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val sa = new LongSet(a.length)
    var i = 0
    while (i < a.length) { sa.add(a(i)); i += 1 }
    var inter = 0
    val sb = new LongSet(b.length)
    var j = 0
    while (j < b.length) {
      val x = b(j)
      if (sb.add(x) && sa.contains(x)) inter += 1
      j += 1
    }
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Hot-bucket defenses shared by the LSH dedups (crawl corpora have
    * millions of identical/boilerplate docs; an unbounded bucket self-join
    * is O(bucket²) and 10⁶ identical docs would make 10¹² candidates):
    *
    *  1. exact-duplicate PRE-COLLAPSE — group by content hash, keep the
    *     min-id representative, emit the (rep, dup) pairs directly
    *     (similarity 1.0 / hamming 0 by definition — no LSH needed);
    *     identical docs never enter the banded join at all. Dup-group
    *     members inherit their representative's near-dup matches.
    *  2. per-bucket size CAP — buckets larger than `maxBucket` (boilerplate
    *     black holes) are dropped from candidate generation, bounding the
    *     self-join at O(maxBucket × buckets). One window over the banding
    *     shuffle, no extra pass.
    */
  /** Returns (representatives with text, (rep, member) dup pairs).
    * Deliberately hot-key-proof: the content-hash shuffles touch only the
    * NARROW (id, hash) projection — 10⁶ identical docs funnel 16 MB of ids
    * into one task, not 10⁶ full texts — and the text rows are fetched back
    * by a semi-join on the UNIQUE id (uniform distribution, no hot task).
    * Emitted pair set: (rep, member, sim=1) per dup member plus LSH pairs
    * between representatives; pairs among two members of the same or
    * related groups are implied via their representative, not re-emitted.
    */
  private def collapseExact(df: DataFrame, idCol: String, textCol: String)
    : (DataFrame, DataFrame) = {
    // sha256 (not md5): engineered md5 collisions exist in real crawl
    // corpora and would merge two distinct documents into one dup group
    val withH = df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .withColumn("__h", sha2(col("text"), 256))
    val slim = withH.select("id", "__h")
    val repIds = slim.groupBy(col("__h")).agg(min(col("id")).as("rep"))
    val dupPairs = slim.join(repIds, "__h")
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    val reps = withH
      .join(repIds.select(col("rep").as("id")), Seq("id"), "left_semi")
      .select("id", "text")
    (reps, dupPairs)
  }

  /** Attach the hot-bucket drop count (rows belonging to over-cap buckets,
    * emitted by the bucket pass as marker rows with `dropped > 0`) to an
    * `Observation`, then strip the markers. Same observable contract as the
    * former window-based capBuckets (`dropped_bucket_rows`), but the cap is
    * now enforced INSIDE the single bucket-grouping pass — no extra window
    * shuffle, no second read of the banded rows.
    */
  private def observeDropped(
      cand: DataFrame,
      dropped: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val observed = dropped match {
      case Some(obs) => cand.observe(obs,
        coalesce(sum(when(col("dropped") > 0L, col("dropped"))), lit(0L))
          .as("dropped_bucket_rows"))
      case None => cand
    }
    observed.filter(col("dropped") === 0L).drop("dropped")
  }

  /** Materialize one LSH bucket up to `maxBucket` rows. Returns null (and
    * leaves the iterator drained into `droppedOut(0)` = total bucket size)
    * when the bucket exceeds the cap — the boilerplate-black-hole defense:
    * memory per group stays bounded by the cap, and an over-cap bucket
    * contributes a marker count instead of O(bucket²) candidates.
    */
  private def drainBucket[T](
      it: Iterator[T],
      maxBucket: Int,
      droppedOut: Array[Long])(implicit ct: scala.reflect.ClassTag[T]): Array[T] = {
    val buf = new scala.collection.mutable.ArrayBuffer[T](math.min(maxBucket, 16))
    while (it.hasNext) {
      buf += it.next()
      if (buf.length > maxBucket) {
        var n = buf.length.toLong
        while (it.hasNext) { it.next(); n += 1 }
        droppedOut(0) = n
        return null
      }
    }
    buf.toArray
  }

  /** Near-duplicate pairs by MinHash+LSH: `bands` bands of `rows` hashes;
    * a pair collides if any band matches; collisions are verified with the
    * exact shingle Jaccard (no false positives leave this operator).
    * Exact duplicates are pre-collapsed (emitted with jaccard 1.0) and
    * buckets larger than `maxBucket` are dropped — see the hot-bucket note.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      bands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.7,
      seed: Long = 42L,
      maxBucket: Int = 1000,
      droppedObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val numHashes = bands * rowsPerBand
    val spark = df.sparkSession
    import spark.implicits._
    val (reps, dupPairs) = collapseExact(df, idCol, textCol)
    // ONE pass per rep: shingles → signature → per-band bucket keys (the
    // band index is folded into the key hash, so a single groupByKey over
    // `bkey` covers all bands; a cross-band key collision only creates an
    // extra candidate, which exact verification then rejects). The former
    // shape — banding window + cached self-join + distinct — read the
    // banded rows three times through two extra exchanges; this is one
    // banding shuffle plus one candidate dedup over the (small) pair set.
    val banded: Dataset[(Long, Long)] = reps
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val sig = minhashSignature(shingles(text, shingleK), numHashes, seed)
        Iterator.tabulate(bands) { b =>
          var h = 0xcbf29ce484222325L ^ mix64(b.toLong)
          var r = 0
          while (r < rowsPerBand) { h = (h ^ sig(b * rowsPerBand + r)) * 0x100000001b3L; r += 1 }
          (mix64(h), id)
        }
      }
    val cand = observeDropped(
      banded.groupByKey(_._1)
        .flatMapGroups { (_, it) =>
          val dropped = new Array[Long](1)
          val rows = drainBucket(it.map(_._2), maxBucket, dropped)
          if (rows == null) Iterator.single((0L, 0L, dropped(0)))
          else {
            java.util.Arrays.sort(rows)
            // strict < (two bands of one doc can share a bucket key)
            for {
              i <- Iterator.range(0, rows.length - 1)
              j <- Iterator.range(i + 1, rows.length)
              if rows(i) != rows(j)
            } yield (rows(i), rows(j), 0L)
          }
        }
        .toDF("id_a", "id_b", "dropped"),
      droppedObs)
      .dropDuplicates("id_a", "id_b")

    // verify candidates with exact jaccard over shingles (recompute on the
    // candidate set only — avoids shipping full shingle sets through LSH)
    val texts = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    val verified = cand
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("text", "text_a"), "id_a")
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("text", "text_b"), "id_b")
      .select("id_a", "id_b", "text_a", "text_b") // joins reorder join keys first
      .as[(Long, Long, String, String)]
      .map { case (a, b, ta, tb) =>
        (a, b, jaccard(shingles(ta, shingleK), shingles(tb, shingleK)))
      }
      .toDF("id_a", "id_b", "jaccard")
      .filter(col("jaccard") >= threshold)
    verified
      .unionAll(dupPairs.withColumn("jaccard", lit(1.0)))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs (id_a,id_b). */
  def ngramJaccard(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val texts = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    pairs
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("text", "text_a"), "id_a")
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("text", "text_b"), "id_b")
      .select("id_a", "id_b", "text_a", "text_b")
      .as[(Long, Long, String, String)]
      .map { case (a, b, ta, tb) =>
        (a, b, jaccard(shingles(ta, shingleK), shingles(tb, shingleK)))
      }
      .toDF("id_a", "id_b", "jaccard")
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens (unit weights). */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || Character.isWhitespace(text.charAt(i))) {
        if (i > start) {
          var h = 0xcbf29ce484222325L
          var j = start
          while (j < i) { h = (h ^ text.charAt(j)) * 0x100000001b3L; j += 1 }
          h = mix64(h)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  /** Near-duplicate pairs with hamming(simhash) <= maxHamming (< 4): band
    * the 64-bit hash into 4×16-bit blocks; pigeonhole guarantees one equal
    * block, so the bucket join finds all such pairs; verify exact hamming.
    * Exact duplicates are pre-collapsed (emitted with hamming 0) and hot
    * buckets capped — see the hot-bucket note above.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000,
      droppedObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(maxHamming < 4, "4×16-bit banding covers hamming <= 3")
    val spark = df.sparkSession
    import spark.implicits._
    val (reps, dupPairs) = collapseExact(df, idCol, textCol)
    // one pass: simhash → 4 banded rows (band folded into the bucket key;
    // a cross-band collision only duplicates a candidate, deduped below).
    // In-bucket pair generation replaces the former window + cached
    // self-join + distinct — one banding shuffle instead of three reads.
    val banded: Dataset[(Long, Long, Long)] = reps
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val sh = simhash64(t)
        Iterator.tabulate(4) { b =>
          (mix64((b.toLong << 62) ^ ((sh >>> (b * 16)) & 0xffffL) ^ 0x5851f42d4c957f2dL),
            id, sh)
        }
      }
    observeDropped(
      banded.groupByKey(_._1)
        .flatMapGroups { (_, it) =>
          val dropped = new Array[Long](1)
          val rows = drainBucket(it.map(r => (r._2, r._3)), maxBucket, dropped)
          if (rows == null) Iterator.single((0L, 0L, 0, dropped(0)))
          else {
            val sorted = rows.sortBy(_._1)
            for {
              i <- Iterator.range(0, sorted.length - 1)
              j <- Iterator.range(i + 1, sorted.length)
              if sorted(i)._1 != sorted(j)._1
            } yield (sorted(i)._1, sorted(j)._1,
              java.lang.Long.bitCount(sorted(i)._2 ^ sorted(j)._2), 0L)
          }
        }
        .toDF("id_a", "id_b", "hamming", "dropped"),
      droppedObs)
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
      .unionAll(dupPairs.withColumn("hamming", lit(0)))
  }

  // ------------------------------------------------------------- embedding

  /** Near-duplicate vector pairs by cosine >= threshold, candidates from
    * random-hyperplane sign LSH (`planes` bits, bucket join), verified
    * exactly. Embeddings are Array[Float] columns.
    *
    * Same hot-bucket defenses as the text dedups: identical vectors are
    * pre-collapsed on a 64-bit content hash (candidate pairs verified by
    * exact vector equality so a hash collision cannot forge a dup), only
    * unique representatives enter the sign-LSH join, and over-full sign
    * buckets are capped — an embedding corpus full of one boilerplate
    * vector would otherwise make O(bucket²) candidates carrying full
    * Array[Float]s on both sides. Two vectors of different dimensions
    * met in one bucket fail with an IllegalArgumentException naming both.
    */
  def embeddingPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      planes: Int = 12,
      seed: Long = 7L,
      maxBucket: Int = 1000,
      droppedObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))

    // exact pre-collapse on a NARROW (id, hash) projection; the (rep, dup)
    // candidates are then verified with full-vector equality (kills 64-bit
    // collisions), emitted with cosine 1.0 by definition
    val withH = vecs.withColumn("__h", xxhash64(col("v")))
    val slim = withH.select("id", "__h")
    val repIds = slim.groupBy(col("__h")).agg(min(col("id")).as("rep"))
    val dupCand = slim.join(repIds, "__h").filter(col("id") =!= col("rep"))
    val dupPairs = dupCand
      .join(vecs.select(col("id").as("rep"), col("v").as("va")), "rep")
      .join(vecs.select(col("id"), col("v").as("vb")), "id")
      .filter(col("va") === col("vb"))
      .select(col("rep").as("id_a"), col("id").as("id_b"), lit(1.0).as("cosine"))
    val reps = withH
      .join(repIds.select(col("rep").as("id")), Seq("id"), "left_semi")
      .select("id", "v")
      .as[(Long, Array[Float])]

    // ONE sign-LSH pass: the hyperplane family is rebuilt deterministically
    // per executor from (seed, planes, dim) — no driver dim probe (the
    // former reps.head() was an extra job + forced cache), no broadcast.
    // Each bucket generates its pairs AND verifies cosine in-group (both
    // vectors are present), replacing the cached self-join + verify map —
    // the vectors cross the wire exactly once.
    val cand = observeDropped(
      reps.map { case (id, v) => (SimilarityOps.signBucket(v, planes, seed), id, v) }
        .groupByKey(_._1)
        .flatMapGroups { (_, it) =>
          val dropped = new Array[Long](1)
          val rows = drainBucket(it.map(r => (r._2, r._3)), maxBucket, dropped)
          if (rows == null) Iterator.single((0L, 0L, 0.0, dropped(0)))
          else {
            val sorted = rows.sortBy(_._1)
            for {
              i <- Iterator.range(0, sorted.length - 1)
              j <- Iterator.range(i + 1, sorted.length)
            } yield (sorted(i)._1, sorted(j)._1,
              SimilarityOps.cosine("embeddingPairs", sorted(i)._1, sorted(i)._2,
                sorted(j)._1, sorted(j)._2), 0L)
          }
        }
        .toDF("id_a", "id_b", "cosine", "dropped"),
      droppedObs)

    cand
      .filter(col("cosine") >= threshold)
      .unionAll(dupPairs)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }
}
