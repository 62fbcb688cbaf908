package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Spark-side counts for one measured section: jobs, stages, tasks, task
  * time, shuffle and spill bytes, and per-stage timings. Counters are
  * atomic; `drain` waits until every event of the jobs started in the
  * section has reached this listener before anyone reads them.
  */
final class Tally extends SparkListener {
  import Tally.StageRec

  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val spillBytes = new AtomicLong


  private val openJobs = ConcurrentHashMap.newKeySet[Int]()
  private val stageTasks = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  private val stageRecs = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  private val stageShuffle = new ConcurrentHashMap[Int, Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    openJobs.add(e.jobId)
    jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = openJobs.synchronized {
    openJobs.remove(e.jobId)
    openJobs.notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    tasks.incrementAndGet()
    taskMs.addAndGet(m.executorRunTime)
    taskCpuNs.addAndGet(m.executorCpuTime)
    inputBytes.addAndGet(m.inputMetrics.bytesRead)
    shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    val sr = m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
    shuffleReadBytes.addAndGet(sr)
    spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    stageTasks.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
      .add(m.executorRunTime)
    val acc = stageShuffle.computeIfAbsent(e.stageId, _ => new Array[Long](2))
    acc.synchronized { acc(0) += m.shuffleWriteMetrics.bytesWritten; acc(1) += sr }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L)
    val sh = Option(stageShuffle.get(i.stageId)).getOrElse(Array(0L, 0L))
    val ts = Option(stageTasks.get(i.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
    stageRecs.add(StageRec(i.stageId, wall, sh(0), sh(1), ts))
  }

  def stageRecords: Seq[StageRec] = stageRecs.asScala.toSeq.sortBy(_.id)

  def reset(): Unit = {
    Seq(jobs, stages, tasks, taskMs, taskCpuNs, inputBytes, shuffleWriteBytes, shuffleReadBytes,
      spillBytes).foreach(_.set(0))
    stageTasks.clear(); stageRecs.clear(); stageShuffle.clear()
  }

  /** Blocks until the listener bus has delivered every event posted so far
    * and every job this listener saw start has ended. A job's end event is
    * posted before its action returns, so after an action this returns
    * with all of that job's task and stage events counted.
    */
  def drain(sc: SparkContext): Unit = {
    org.apache.spark.perfbenchshim.Bus.drain(sc, 60000L)
    val deadline = System.nanoTime() + 60_000_000_000L
    openJobs.synchronized {
      while (!openJobs.isEmpty) {
        val left = (deadline - System.nanoTime()) / 1000000
        if (left <= 0) throw new IllegalStateException(s"jobs never ended: ${openJobs.asScala.mkString(",")}")
        openJobs.wait(left)
      }
    }
  }
}

object Tally {
  /** One finished stage: wall time, shuffle bytes and its tasks' run times. */
  final case class StageRec(id: Int, wallMs: Long, shuffleWrite: Long, shuffleRead: Long, taskMs: Seq[Long])
}
