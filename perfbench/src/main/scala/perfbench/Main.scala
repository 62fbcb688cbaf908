package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one closed-loop client (the
  * next operation starts when the previous one returns), local[nproc - 1].
  *
  * Usage: Main --workload ingest|scan|queries --seed N --seconds S --trace 0|1
  *             --work DIR [--trace-out DIR] [--tables DIR --dump DIR --prep-s X [--only Q1,Q2]]
  *
  * Prints every metric by name and unit, then the result as the last line.
  */
object Main {
  /** Per-layer metrics every traced run reports; a layer that the workload
    * leaves idle reads 0.
    */
  val PerLayer: Seq[(String, String)] =
    Layers.Columns.flatMap(c => Seq(s"codec.encode_mbps.$c" -> "MB/s", s"codec.decode_mbps.$c" -> "MB/s",
      s"codec.bytes_out.$c" -> "bytes")) ++
      Layers.Schemes.map(s => s"codec.scheme_chunks.$s" -> "count") ++
      Seq("engine.chunk_encode_ms" -> "ms", "engine.frame_ms" -> "ms", "engine.frame_bytes" -> "bytes",
        "engine.write_frames_ms" -> "ms", "format.zone_index_write_ms" -> "ms",
        "format.zone_index_read_ms" -> "ms",
        "exchange.bounds_stage_ms" -> "ms", "exchange.encode_stage_ms" -> "ms",
        "exchange.writer_stage_ms" -> "ms", "exchange.shuffle_write_bytes" -> "bytes",
        "exchange.shuffle_read_bytes" -> "bytes", "exchange.spill_bytes" -> "bytes",
        "exchange.task_cpu_ms" -> "ms", "exchange.writer_task_skew" -> "ratio",
        "reader.bytes_read" -> "bytes", "reader.header_crc_ms" -> "ms", "reader.blob_ms" -> "ms",
        "reader.decode_ms" -> "ms", "vectors.read_ms" -> "ms",
        "pushdown.chunks_skipped_ratio" -> "ratio", "pushdown.files_skipped_ratio" -> "ratio",
        "pushdown.agg_header_only_ratio" -> "ratio", "pushdown.rows_emitted_per_scanned" -> "ratio",
        "driver.planning_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
        "spark.tasks" -> "count", "spark.driver_overhead_share" -> "ratio") ++
      Layers.Families.map(f => s"ops.task_ms.$f" -> "ms") ++
      Seq("jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms", "proc.cpu_s" -> "s", "proc.wall_s" -> "s",
        "host.ext_load_cores" -> "cores", "host.steal_cores" -> "cores", "trace.overhead_share" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val traced = args.get("trace").contains("1")
    val work = args("work")
    // One core stays with the driver thread, the JIT and the collector: with
    // a task slot on every core, their bursts and any CPU the hypervisor
    // steals preempt a task, and the stage waits for that straggler.
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.scratchDir", s"file:$work/scratch")
      .config("spark.graft.streamCheckpointDir", s"file:$work/stream_ckpt")
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args("seed").toLong, args("seconds").toDouble, new Tracer(traced), work, cores)
    val res = new Result
    println(s"perfbench: workload=$workload seed=${ctx.seed} seconds=${ctx.seconds} trace=${if (traced) 1 else 0} cores=$cores")
    val setupS = workload match {
      case "ingest" => Workloads.ingest(ctx, res)
      case "scan" => Workloads.scan(ctx, res)
      case "queries" =>
        args("prep-s").toDouble + Workloads.queries(ctx, res, args("tables"), args("dump"),
          args.get("only").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    res.e2e("setup_s", setupS, "s")
    if (traced) {
      args.get("tables").foreach(t => Workloads.opsPass(ctx, res, t))
      Layers.run(ctx, res)
      PerLayer.foreach { case (k, u) => if (!res.perLayer.contains(k)) res.layer(k, 0.0, u) }
      args.get("trace-out").foreach(d =>
        ctx.tracer.write(java.nio.file.Paths.get(d, s"trace-$workload-${ctx.seed}.jsonl")))
    }
    res.e2e("peak_rss_mb", Probe.peakRssMb(), "MB")
    if (traced && workload == "ingest") Ladder.run(ctx)
    spark.stop()

    (if (traced) res.perLayer else res.endToEnd).foreach { case (k, (v, u)) => println(f"metric $k%-36s $v%14.4f $u") }
    if (!traced) res.perLayer.foreach { case (k, (v, u)) => println(f"layer $k%-36s $v%14.4f $u") }
    println(res.json(traced))
    System.out.flush()
    sys.exit(0)
  }
}
