package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Everything one run shares: the session, its listeners, the tracer, the
  * run's seed, window length and scratch directory.
  */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val tracer: Tracer,
    val work: String,
    val cores: Int) {
  /** Length of one timed window. A traced run measures two windows, the
    * untraced baseline and then the traced one, within `seconds`; it
    * reports no end-to-end metric.
    */
  val window: Double = if (tracer.enabled) seconds / 2 else seconds
  val tally = new Tally
  spark.sparkContext.addSparkListener(tally)

  /** Planning time (analysis + optimization + physical planning) summed over
    * every Dataset action, from each action's QueryPlanningTracker.
    */
  val planningMs = new java.util.concurrent.atomic.AtomicLong
  val actions = new java.util.concurrent.atomic.AtomicLong
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      actions.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  })

  def drain(): Unit = tally.drain(spark.sparkContext)

  def hadoopConf: org.apache.hadoop.conf.Configuration = spark.sparkContext.hadoopConfiguration

  def rm(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(hadoopConf).delete(p, true)
  }

  def uri(rel: String): String = "file:" + java.nio.file.Paths.get(work, rel).toAbsolutePath
}

object Ctx {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Order-insensitive checksum of a DataFrame: the row count, then per
    * column the sum of 40-bit row hashes (no overflow below 2^23 rows).
    */
  def columnChecksums(df: DataFrame): Seq[Long] = {
    val aggs: Seq[Column] = count(lit(1)) +:
      df.columns.toSeq.map(c => sum(pmod(xxhash64(col(s"`$c`")), lit(1L << 40))))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Same, with one hash over all columns of each row. */
  def rowChecksumDf(df: DataFrame): DataFrame = {
    val all = df.columns.toSeq.map(c => col(s"`$c`"))
    df.agg(count(lit(1)), sum(pmod(xxhash64(all: _*), lit(1L << 40))))
  }

  def rowChecksum(df: DataFrame): (Long, Long) = {
    val r = rowChecksumDf(df).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Runs the checksum of `df` and returns the executed DataFrame, whose
    * plan then carries the scan's SQL metrics.
    */
  def planDf(df: DataFrame): DataFrame = {
    val c = rowChecksumDf(df)
    c.collect()
    c
  }

  /** Every physical operator of an executed plan, through adaptive
    * wrappers, query stages and subqueries.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** Sums the named SQL metrics over an executed plan. */
  def planMetrics(df: DataFrame, names: Seq[String]): Map[String, Long] = {
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    planNodes(df.queryExecution.executedPlan).foreach { n =>
      names.foreach(k => n.metrics.get(k).foreach(m => acc(k) += m.value))
    }
    names.map(k => k -> acc(k)).toMap
  }
}
