package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface. The reference's streaming is pull-based
  * batch decode only (SURVEY §2.4 — no event-time semantics anywhere), so
  * event-time windowing is an extension: the standard watermark + tumbling
  * window aggregation a training-data ingest pipeline runs over its event
  * firehose, exercised here in a batch-equivalent memory-sink harness so
  * the result is oracle-checkable.
  */
object StreamingOps {

  private def windowedAgg(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = spark.read.parquet(path).schema
    // readStream needs a directory source; glob-filter to the events file
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      // parquet timestamps surface as TIMESTAMP_NTZ; event-time needs TIMESTAMP
      // (session TZ is UTC so the wall-clock value is unchanged)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
  }

  /** PRODUCTION shape: append-mode file sink. Each window is emitted
    * exactly once, when the watermark passes it — state holds only the
    * open windows, nothing accumulates on the driver (a complete-mode
    * memory sink would pin the entire aggregate there forever, a
    * scale-killer on an unbounded firehose). Windows still inside the
    * watermark at end-of-input remain unemitted — inherent to append mode.
    */
  def windowedEventCountsToFiles(
      spark: SparkSession,
      dir: String,
      outDir: String,
      checkpointDir: String): Unit = {
    val q = windowedAgg(spark, dir)
      .select(
        col("window.start").cast("string").as("window_start"),
        col("event_type"), col("n_events"), col("min_value"), col("max_value"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Ephemeral checkpoint dir for the HARNESS streaming queries (memory-
    * sink oracles that recompute from scratch every run): fast local
    * storage, deleted before each start so offsets never carry over. With
    * no explicit location Spark creates a temp checkpoint under /tmp —
    * on this sandbox one shared virtio disk whose fsync'd offset/commit/
    * state-store writes dominate the micro-batch wall (the same shared-
    * disk argument as the bench's tmpfs spill; a real cluster gives
    * executors local disks). Production paths (windowedEventCountsToFiles,
    * the btr streaming sink) take explicit DURABLE checkpoint dirs —
    * unaffected.
    * Override via spark.graft.streamCheckpointDir / SPARK_GRAFT_TMPFS.
    */
  def ephemeralCheckpoint(spark: SparkSession, name: String): String = {
    val base = spark.conf.getOption("spark.graft.streamCheckpointDir")
      .getOrElse("file:" + sys.env.getOrElse("SPARK_GRAFT_TMPFS", "/dev/shm") + "/graft_stream_ckpt")
    val dir = s"$base/$name"
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }

  /** Run `body` with spark.sql.shuffle.partitions set for a STREAMING
    * query, restoring the session value after. Streaming plans get no AQE
    * partition coalescing, so the stateful shuffle / per-epoch write
    * exchange keeps whatever width the session has — at 32 local cores
    * that meant 32 state-store commits (and 32 block files per sink epoch)
    * for kilobyte-sized partitions, with the per-partition fixed commit
    * cost dominating (measured: state commit 10.2 s summed at 32
    * partitions vs 0.58 s at 8 for the same 38913 state rows). Default
    * cores/4, bounded below by 2; production tunes
    * spark.graft.streamShufflePartitions to its executor width.
    */
  def withStreamShufflePartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val n = spark.conf.getOption("spark.graft.streamShufflePartitions")
      .map(_.toInt)
      .getOrElse(math.max(2, spark.sparkContext.defaultParallelism / 4))
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** ORACLE HARNESS ONLY: same aggregation through a complete-mode memory
    * sink so the static input yields the full batch-equivalent result for
    * the DuckDB compare. The memory sink materializes the aggregate on the
    * driver — fine for a test harness, never for production (use
    * windowedEventCountsToFiles there).
    */
  def windowedEventCounts(spark: SparkSession, dir: String): DataFrame = {
    val qname = "events_agg_" + math.abs(dir.hashCode).toString
    // no-data micro-batches exist to let the advanced watermark EMIT/EXPIRE
    // state (append-mode semantics); a complete-mode sink re-emits the full
    // aggregate every batch, so the extra batch only re-runs the whole
    // state-store commit + sink cycle for an identical result. Skip it
    // (restore the conf after — it is session-wide).
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try withStreamShufflePartitions(spark) {
      val q = windowedAgg(spark, dir).writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(qname)
        .option("checkpointLocation", ephemeralCheckpoint(spark, qname))
        .start()
      try q.processAllAvailable()
      finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
    spark.table(qname).select(
      col("window.start").cast("string").as("window_start"),
      col("event_type"),
      col("n_events"),
      col("min_value"),
      col("max_value"))
  }

  /** Sessionization per user with a 30-minute gap rule, as a pure window-
    * function plan: lag over (user_id, ts) + conditional sum. Unlike a
    * mapGroups that materializes every event of a user in task memory (a
    * hot user with 10⁹ events OOMs), the window sort spills through
    * Spark's external sorter and the aggregation is codegen'd — the only
    * shape that survives web-scale event logs.
    */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val GapUs = 1800L * 1000000L // 30 minutes in microseconds (exact)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(
        (lit(1L) + coalesce(
          sum(when(col("gap") > GapUs, 1L).otherwise(0L)), lit(0L))).as("n_sessions"),
        count(lit(1)).as("n_events"))
  }
}
