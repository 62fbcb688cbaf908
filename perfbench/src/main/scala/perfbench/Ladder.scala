package perfbench

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Core ladder, a diagnostic of the traced `ingest` run and never a gate:
  * ingest and full-decode throughput at 1, 2 and nproc cores (best of two
  * on one 64K-row input file), each rung in its own JVM (restarting a SparkContext in one
  * JVM skews the second measurement).
  */
object Ladder {
  def rungs(cores: Int): Seq[Int] = (Seq(1, 2) :+ cores).distinct.filter(_ <= cores)

  def run(ctx: Ctx): Unit = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val nproc = Runtime.getRuntime.availableProcessors()
    val gbps = rungs(nproc).map { k =>
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"),
        "perfbench.Ladder", k.toString, ctx.work, ctx.seed.toString)
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      val p = pb.start()
      val out = new java.io.ByteArrayOutputStream()
      val drain = new Thread(() => try p.getInputStream.transferTo(out) catch { case _: java.io.IOException => () })
      drain.start()
      if (!p.waitFor(150, java.util.concurrent.TimeUnit.SECONDS)) { p.destroyForcibly(); p.waitFor() }
      drain.join()
      val line = new String(out.toByteArray, "UTF-8").linesIterator.find(_.startsWith("LADDER"))
      line.map(_.split(" ")).map(f => k -> (f(2).toDouble, f(3).toDouble)).getOrElse(k -> (Double.NaN, Double.NaN))
    }
    gbps.foreach { case (k, (in, dec)) =>
      println(f"ladder cores=$k%2d ingest_gbps=$in%.4f scan_decode_gbps=$dec%.4f (per core: ${in / k}%.4f, ${dec / k}%.4f)")
    }
    if (nproc < 32)
      println(s"ladder: the BASELINE 2->8 scaling rule (>= 0.8) is unmeasurable on a $nproc-core host (needs >= 32 cores)")
  }

  /** Child: `Ladder <cores> <work> <seed>`; prints `LADDER cores ingestGbps decodeGbps`. */
  def main(args: Array[String]): Unit = {
    val Array(k, work, seed) = args
    val spark = SparkSession.builder().master(s"local[$k]").appName(s"perfbench-ladder-$k")
      .config("spark.sql.shuffle.partitions", k)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed.toLong, 0, new Tracer(false), work, k.toInt)
    val in = ctx.uri(s"ladder_input_$k")
    val out = ctx.uri(s"ladder_btr_$k")
    Workloads.genInput(ctx, in, files = 1)
    Workloads.write(ctx, in, out) // warm-up
    def best(body: => Unit): Double =
      (1 to 2).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }.min
    var raw = 0L
    val w = best { raw = Workloads.write(ctx, in, out).rawBytes }
    val d = best(Workloads.decodeAll(spark.read.format("btr").load(out)).collect())
    println(s"LADDER $k ${raw / 1e9 / w} ${raw / 1e9 / d}")
    ctx.rm(in); ctx.rm(out)
    spark.stop()
  }
}
