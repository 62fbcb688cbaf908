package perfbench

import graft.SparkEntry
import graft.codec.BtrConfig
import graft.data.SourceCodeGen
import graft.engine.{BlockFiles, BtrTable}
import graft.format.BtrManifest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The three workloads. Each has a set-up, repeated `SetupReps` times and
  * reported as its median, plus the first (cold) iteration of the timed
  * body, which is cost a user pays once and never enters a timed sample; then
  * a timed window of `--seconds` in which every operation's output is checked.
  */
object Workloads {
  val SetupReps = 3
  val RangeCols = Seq("repo", "path")
  val PushdownMetrics = Seq("chunksSkipped", "chunksTotal", "filesSkipped", "filesTotal",
    "aggChunksHeaderOnly", "aggChunksDecoded", "numOutputRows")

  /** Input files of the source-code table for `ingest` and `scan`, each of
    * one chunk's worth of rows. With the compressed exchange every input
    * split becomes one chunk, so the written table has the chunk shape of the
    * 4M-row reference (64 files of about 62K rows) whatever the core count.
    */
  val InputFiles = 2
  val TableRows: Long = InputFiles.toLong * BtrConfig.default.blockSize

  final case class Sample(ms: Double, cpuS: Double)

  /** Times `body` and takes the CPU it used: its Spark tasks' CPU time plus
    * the driver thread's. JIT and GC threads are left out; the run's
    * evidence line reports them.
    */
  def timed[T](ctx: Ctx)(body: => T): (T, Sample) = {
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    ctx.drain()
    val task0 = ctx.tally.taskCpuNs.get()
    val c0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    val r = body
    val ms = Ctx.ms(t0)
    val driverNs = threads.getCurrentThreadCpuTime - c0
    ctx.drain()
    (r, Sample(ms, (driverNs + ctx.tally.taskCpuNs.get() - task0) / 1e9))
  }

  private def median(xs: Seq[Double]) = Stats.median(xs)

  // ------------------------------------------------------------------ input

  /** Generates the seeded source-code table as parquet: `SourceCodeGen.table`
    * with a fixed partition count, so file k holds the rows with ids in
    * [k × blockSize, (k + 1) × blockSize).
    */
  def genInput(ctx: Ctx, dir: String, files: Int = InputFiles): Unit = {
    import ctx.spark.implicits._
    val seed = ctx.seed
    ctx.spark.range(0L, files.toLong * BtrConfig.default.blockSize, 1L, files)
      .mapPartitions(_.map(id => SourceCodeGen.row(id, seed))).toDF()
      .selectExpr("CAST(row_id AS INT) AS row_id", "repo", "path", "commit", "lang", "content")
      .write.mode("overwrite").parquet(dir)
  }

  def write(ctx: Ctx, input: String, out: String): BtrManifest =
    BlockFiles.write(ctx.spark.read.parquet(input), out, BtrConfig.default,
      rangeCols = RangeCols, compressedExchange = true)

  /** The seeding check: the first rows of two seeds must differ, or a claim
    * could not be re-run on a seed it was not developed on.
    */
  def seedCheck(ctx: Ctx, res: Result): Unit = {
    def digest(seed: Long) = (0L until 1000L).map(i => SourceCodeGen.row(i, seed).hashCode).hashCode
    val (a, b) = (digest(ctx.seed), digest(ctx.seed + 1))
    println(f"seed_check: input digest seed=${ctx.seed} $a%08x, seed=${ctx.seed + 1} $b%08x")
    res.ok(a != b)
  }

  /** Untimed iterations of the timed body before the window opens, for at
    * least `WarmSeconds`: JIT, code generation and caches settle here. On 4
    * cores the ingest write still speeds up for about 10 s of repetitions.
    */
  val WarmSeconds = 10.0
  val MinIters = 3

  /** Runs the warm-up; returns the seconds of its first (cold) iteration,
    * the part of it that is set-up cost. The rest of the warm-up lasts
    * `WarmSeconds` whatever the code does, so it would hide a slower cold
    * start.
    */
  def warmUp(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    val cold = (System.nanoTime() - t0) / 1e9
    repeat(WarmSeconds)(body)
    cold
  }

  /** Repeats `body` for `seconds`, and at least `MinIters` times; returns
    * the seconds it took.
    */
  def repeat(seconds: Double)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinIters || (System.nanoTime() - t0) / 1e9 < seconds) { body; i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs the set-up `SetupReps` times (once in a traced run, which reports
    * no `setup_s`); returns the median seconds.
    */
  def repeatedSetup(ctx: Ctx)(body: => Unit): Double =
    median((1 to (if (ctx.tracer.enabled) 1 else SetupReps)).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })

  // ------------------------------------------------------------------ ingest

  def ingest(ctx: Ctx, res: Result): Double = {
    val input = ctx.uri("ingest_input")
    val out = ctx.uri("ingest_btr")
    seedCheck(ctx, res)
    val prep = repeatedSetup(ctx)(genInput(ctx, input))
    val splitRows = ctx.spark.read.parquet(input).rdd.mapPartitions(it => Iterator(it.size)).collect()
    println(s"ingest: input_files=$InputFiles rows=$TableRows rows_per_split=${splitRows.mkString(",")}")
    val expected = Ctx.columnChecksums(ctx.spark.read.parquet(input))
    val samples = mutable.ArrayBuffer.empty[Sample]
    var m: BtrManifest = null
    def iteration(): Unit = {
      ctx.tracer.newRequest()
      val (mf, s) = timed(ctx)(ctx.tracer.span("ingest.write")(write(ctx, input, out)))
      m = mf
      samples += s
      val back = ctx.tracer.span("ingest.check")(
        Ctx.columnChecksums(ctx.spark.read.format("btr").load(out)))
      res.ok(back == expected && mf.numRows == TableRows)
    }
    val cold = warmUp(iteration())
    measure(ctx, res, () => { samples.clear(); repeat(ctx.window)(iteration()) }, () => median(samples.map(_.ms).toSeq))
    val ms = samples.map(_.ms).toSeq
    val rawB = m.rawBytes.toDouble
    val gbps = rawB / 1e9 / (median(ms) / 1e3)
    val mbPerCpuS = rawB / 1e6 / median(samples.map(_.cpuS).toSeq)
    res.e2e("op_p50_ms", median(ms), "ms")
    res.e2e("raw_gbps", gbps, "GB/s")
    res.e2e("raw_mb_per_cpu_s", mbPerCpuS, "MB/cpu-s")
    res.e2e("stored_bytes_per_input_byte", m.encBytes.toDouble / rawB, "ratio")
    println(s"ingest: write ms ${ms.map(x => f"$x%.0f").mkString(" ")}")
    println(f"ingest: rows=${m.numRows} raw_bytes=${m.rawBytes} enc_bytes=${m.encBytes} writes=${ms.length} " +
      f"p90=${Stats.p90(ms)}%.1f ms ingest_gbps=$gbps%.4f GB/s ingest_mb_per_cpu_s=$mbPerCpuS%.2f MB/cpu-s")

    if (ctx.tracer.enabled) exchange(ctx, res, () => write(ctx, input, out))
    ctx.rm(out)
    println(f"ingest: setup prep_s=$prep%.3f cold_iteration_s=$cold%.3f")
    prep + cold
  }

  // ------------------------------------------------------------------ scan

  final case class Shape(name: String, q: DataFrame => DataFrame)

  /** Pushdown shapes on the range-clustered table. */
  val Shapes: Seq[Shape] = Seq(
    Shape("range_repo", t => t.where(col("repo") >= "org3/" && col("repo") < "org4/").select("path", "commit")),
    Shape("prefix_path", t => t.where(col("path").startsWith("src/")).select("row_id", "lang")),
    Shape("agg_row_id", t => t.agg(min("row_id"), max("row_id"), count(lit(1)), sum("row_id"))),
    Shape("group_lang", t => t.groupBy("lang").agg(count(lit(1)).as("n"))),
    Shape("topn_row_id", t => t.orderBy(col("row_id").desc).limit(10).select("row_id", "repo")))

  /** Shape rounds per full decode: a shape takes about a tenth of a decode. */
  val ShapeRounds = 4

  /** Full decode: every column materialised (length sums defeat pruning). */
  def decodeAll(t: DataFrame): DataFrame = {
    val aggs = sum(col("row_id").cast("long")) +:
      Seq("repo", "path", "commit", "lang", "content").map(c => sum(length(col(c))).cast("long"))
    t.agg(aggs.head, aggs.tail: _*)
  }

  def scan(ctx: Ctx, res: Result): Double = {
    val input = ctx.uri("scan_input")
    val dir = ctx.uri("scan_btr")
    seedCheck(ctx, res)
    var m: BtrManifest = null
    var expected: Map[String, (Long, Long)] = Map.empty
    var expectedDecode: Seq[Long] = Nil
    val prep = repeatedSetup(ctx) {
      genInput(ctx, input)
      m = write(ctx, input, dir)
      val p = ctx.spark.read.parquet(input)
      expected = Shapes.map(s => s.name -> Ctx.rowChecksum(s.q(p))).toMap
      expectedDecode = decodeAll(p).collect()(0).toSeq.map(_.asInstanceOf[Long])
    }
    if (ctx.tracer.enabled) exchange(ctx, res, () => write(ctx, input, dir))
    def table = ctx.spark.read.format("btr").load(dir)
    val decode = mutable.ArrayBuffer.empty[Sample]
    val shapeMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val pd = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def iteration(): Unit = {
      ctx.tracer.newRequest()
      val (row, s) = timed(ctx)(ctx.tracer.span("scan.decode")(decodeAll(table).collect()(0)))
      decode += s
      res.ok(row.toSeq.map(_.asInstanceOf[Long]) == expectedDecode)
      for (_ <- 1 to ShapeRounds; sh <- Shapes) {
        val df = sh.q(table)
        val t1 = System.nanoTime()
        val cs = ctx.tracer.span(s"scan.${sh.name}")(Ctx.rowChecksum(df))
        shapeMs.getOrElseUpdate(sh.name, mutable.ArrayBuffer.empty) += Ctx.ms(t1)
        res.ok(cs == expected(sh.name))
      }
    }
    val cold = warmUp(iteration())
    measure(ctx, res, () => { decode.clear(); shapeMs.clear(); repeat(ctx.window)(iteration()) },
      () => Stats.geomean(shapeMs.values.map(v => median(v.toSeq)).toSeq))
    if (ctx.tracer.enabled) Shapes.foreach { sh =>
      val df = Ctx.planDf(sh.q(table))
      Ctx.planMetrics(df, PushdownMetrics).foreach { case (k, v) => pd(k) += v }
    }
    val rawB = m.rawBytes.toDouble
    val shapeP50 = shapeMs.map { case (k, v) => k -> median(v.toSeq) }
    val shapeP90 = shapeMs.map { case (k, v) => k -> Stats.p90(v.toSeq) }
    val p50 = Stats.geomean(shapeP50.values.toSeq)
    val p90 = Stats.pooledP90(shapeMs.values.map(_.toSeq).toSeq)
    val gbps = rawB / 1e9 / (median(decode.map(_.ms).toSeq) / 1e3)
    res.e2e("op_p50_ms", p50, "ms")
    res.e2e("raw_gbps", gbps, "GB/s")
    res.e2e("raw_mb_per_cpu_s", rawB / 1e6 / median(decode.map(_.cpuS).toSeq), "MB/cpu-s")
    res.e2e("stored_bytes_per_input_byte", m.encBytes.toDouble / rawB, "ratio")
    shapeMs.foreach { case (k, v) =>
      println(f"scan shape $k%-12s p50=${shapeP50(k)}%.1f ms p90=${shapeP90(k)}%.1f ms n=${v.length}")
    }
    println(f"scan: decodes=${decode.length} scan_decode_gbps=$gbps%.4f GB/s " +
      f"scan_pushdown_p50_ms=$p50%.2f scan_pushdown_p90_ms=$p90%.2f")
    if (ctx.tracer.enabled) pushdownLayer(res, pd, Shapes.length * m.numRows)
    ctx.rm(dir)
    println(f"scan: setup prep_s=$prep%.3f cold_iteration_s=$cold%.3f")
    prep + cold
  }

  def pushdownLayer(res: Result, pd: collection.Map[String, Long], rowsScanned: Long): Unit = {
    def ratio(a: Long, b: Long) = if (b > 0) a.toDouble / b else 0.0
    res.layer("pushdown.chunks_skipped_ratio", ratio(pd("chunksSkipped"), pd("chunksTotal")), "ratio")
    res.layer("pushdown.files_skipped_ratio", ratio(pd("filesSkipped"), pd("filesTotal")), "ratio")
    res.layer("pushdown.agg_header_only_ratio",
      ratio(pd("aggChunksHeaderOnly"), pd("aggChunksHeaderOnly") + pd("aggChunksDecoded")), "ratio")
    res.layer("pushdown.rows_emitted_per_scanned", ratio(pd("numOutputRows"), rowsScanned), "ratio")
  }

  // ------------------------------------------------------------------ queries

  /** The driver queries over seeded tables that `tables` already holds. The
    * warm-up pass writes every result as parquet for the DuckDB oracle
    * (checked by the runner after this process exits); each timed sample's
    * checksum must equal that of the oracle-checked result.
    */
  def queries(ctx: Ctx, res: Result, tables: String, dump: String, only: Set[String]): Double = {
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.isEmpty || only(n))
    val cold = mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    names.foreach { n =>
      val t1 = System.nanoTime()
      SparkEntry.queries(n)(ctx.spark, tables).coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")
      cold(n) = Ctx.ms(t1)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dump, "oracle_sql.json"), oracleJson(names.toSet))
    val warm = (System.nanoTime() - t0) / 1e9
    val reference = names.map(n => n -> Ctx.rowChecksum(ctx.spark.read.parquet(s"$dump/$n"))).toMap

    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def sample(n: String): Unit = {
      ctx.tracer.newRequest()
      val t1 = System.nanoTime()
      val ok = try ctx.tracer.span(s"queries.$n")(Ctx.rowChecksum(SparkEntry.queries(n)(ctx.spark, tables))) == reference(n)
        catch { case e: Exception => println(s"queries: $n failed: ${e.getMessage}"); false }
      samples.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += Ctx.ms(t1)
      res.ok(ok)
    }
    // whole passes in query order; the first pass always completes
    def loop(): Unit = {
      val end = System.nanoTime() + (ctx.window * 1e9).toLong
      var first = true
      while (first || System.nanoTime() < end) {
        names.foreach(n => if (first || System.nanoTime() < end) sample(n))
        first = false
      }
    }
    val win = measure(ctx, res, () => { samples.clear(); loop() },
      () => Stats.geomean(samples.values.map(v => median(v.toSeq)).toSeq))
    val p50 = samples.map { case (k, v) => k -> median(v.toSeq) }
    val p90 = samples.map { case (k, v) => k -> Stats.p90(v.toSeq) }
    val opP50 = Stats.geomean(p50.values.toSeq)
    val opP90 = Stats.pooledP90(samples.values.map(_.toSeq).toSeq)
    val bytesIn = ctx.tally.inputBytes.get()
    res.e2e("op_p50_ms", opP50, "ms")
    res.e2e("raw_gbps", bytesIn / 1e9 / (samples.values.flatten.sum / 1e3), "GB/s")
    res.e2e("raw_mb_per_cpu_s", bytesIn / 1e6 / win.cpuS, "MB/cpu-s")
    res.e2e("stored_bytes_per_input_byte", scratchRatio(ctx), "ratio")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ctx.work, "samples.json"),
      samples.map { case (k, v) => s"\"$k\":${v.length}" }.mkString("{", ",", "}"))
    names.foreach { n =>
      println(f"query $n%-18s p50=${p50(n)}%8.1f ms p90=${p90(n)}%8.1f ms n=${samples(n).length}%3d cold=${cold(n)}%8.1f ms")
    }
    println(f"queries: queries_p50_ms=$opP50%.2f queries_p90_ms=$opP90%.2f " +
      f"queries_sum_p50_s=${p50.values.sum / 1e3}%.3f samples=${samples.values.map(_.length).sum}")
    warm
  }

  /** The `ops/` layer of a traced run: executor task time per operator
    * family, summed over the family's driver queries. A warm-up pass runs
    * first, untimed, so first-run code generation stays out of it; the
    * second pass is timed and must give the warm-up pass's results.
    */
  def opsPass(ctx: Ctx, res: Result, tables: String): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => Layers.Families.contains(n.takeWhile(_ != '_')))
    def checksum(n: String): Option[(Long, Long)] =
      try Some(Ctx.rowChecksum(SparkEntry.queries(n)(ctx.spark, tables)))
      catch { case e: Exception => println(s"ops: $n failed: ${e.getMessage}"); None }
    val warm = names.map(n => n -> checksum(n)).toMap
    val taskMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    names.foreach { n =>
      ctx.drain()
      val task0 = ctx.tally.taskMs.get()
      val cs = checksum(n)
      res.ok(cs.isDefined && cs == warm(n))
      ctx.drain()
      taskMs(n.takeWhile(_ != '_')) += ctx.tally.taskMs.get() - task0
    }
    Layers.Families.foreach(f => res.layer(s"ops.task_ms.$f", taskMs(f).toDouble, "ms"))
  }

  /** Stored bytes per input byte over the btr tables the queries wrote. */
  private def scratchRatio(ctx: Ctx): Double = {
    val root = new java.io.File(ctx.work, "scratch")
    val manifests = Option(root.listFiles()).toSeq.flatten.flatMap { d =>
      Seq(d, new java.io.File(d, "btr")).filter(x => new java.io.File(x, BtrTable.ManifestFile).exists)
    }
    val ms = manifests.map(d => BtrTable.readManifest(ctx.spark, "file:" + d.getAbsolutePath))
    ms.map(_.encBytes).sum.toDouble / math.max(1L, ms.map(_.rawBytes).sum)
  }

  private def oracleJson(names: Set[String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql.filter(kv => names(kv._1)).map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
  }

  // ------------------------------------------------------------------ shared

  /** Runs the timed window; a traced run runs it twice, untraced then
    * traced, and reports the difference as the tracing overhead. Returns the
    * contention evidence of the (last) window and records the Spark-side
    * counts of the traced one.
    */
  def measure(ctx: Ctx, res: Result, loop: () => Unit, p50: () => Double): Probe.Window = {
    val tr = ctx.tracer
    val untracedP50 =
      if (!tr.enabled) Double.NaN
      else { tr.recording = false; loop(); tr.recording = true; p50() }
    ctx.drain()
    ctx.tally.reset()
    val plan0 = ctx.planningMs.get()
    val act0 = ctx.actions.get()
    val a = Probe.snap()
    val attempted0 = res.attempted
    loop()
    val b = Probe.snap()
    ctx.drain()
    val w = Probe.window(a, b)
    println(s"evidence: ${w.json}")
    if (tr.enabled) {
      val ops = math.max(1L, res.attempted - attempted0).toDouble
      val t = ctx.tally
      res.layer("trace.overhead_share", p50() / untracedP50 - 1.0, "ratio")
      res.layer("driver.planning_ms", (ctx.planningMs.get() - plan0).toDouble / math.max(1L, ctx.actions.get() - act0), "ms")
      res.layer("spark.jobs", t.jobs.get / ops, "count")
      res.layer("spark.stages", t.stages.get / ops, "count")
      res.layer("spark.tasks", t.tasks.get / ops, "count")
      res.layer("spark.driver_overhead_share", 1.0 - t.taskMs.get / (w.wallS * 1e3 * ctx.cores), "ratio")
      res.layer("jvm.gc_ms", w.gcMs.toDouble, "ms")
      res.layer("jvm.jit_ms", w.jitMs.toDouble, "ms")
      res.layer("proc.cpu_s", w.cpuS, "s")
      res.layer("proc.wall_s", w.wallS, "s")
      res.layer("host.ext_load_cores", w.extLoadCores, "cores")
      res.layer("host.steal_cores", w.stealCores, "cores")
    }
    w
  }

  /** Exchange layer of one range-exchange write, read from the listener:
    * the bounds sample, the map-side encode (shuffle write) and the writer
    * (shuffle read) stages.
    */
  def exchange(ctx: Ctx, res: Result, doWrite: () => Unit): Unit = {
    ctx.drain()
    ctx.tally.reset()
    doWrite()
    ctx.drain()
    val recs = ctx.tally.stageRecords
    val enc = recs.filter(_.shuffleWrite > 0)
    val wr = recs.filter(r => r.shuffleRead > 0 && r.shuffleWrite == 0)
    val bounds = recs.filterNot(r => enc.contains(r) || wr.contains(r))
    val wTasks = wr.flatMap(_.taskMs).map(_.toDouble)
    res.layer("exchange.bounds_stage_ms", bounds.map(_.wallMs).sum.toDouble, "ms")
    res.layer("exchange.encode_stage_ms", enc.map(_.wallMs).sum.toDouble, "ms")
    res.layer("exchange.writer_stage_ms", wr.map(_.wallMs).sum.toDouble, "ms")
    res.layer("exchange.shuffle_write_bytes", ctx.tally.shuffleWriteBytes.get.toDouble, "bytes")
    res.layer("exchange.shuffle_read_bytes", ctx.tally.shuffleReadBytes.get.toDouble, "bytes")
    res.layer("exchange.spill_bytes", ctx.tally.spillBytes.get.toDouble, "bytes")
    res.layer("exchange.task_cpu_ms", ctx.tally.taskCpuNs.get / 1e6, "ms")
    res.layer("exchange.writer_task_skew",
      if (wTasks.isEmpty) 0.0 else wTasks.max / math.max(1.0, Stats.median(wTasks)), "ratio")
  }
}
