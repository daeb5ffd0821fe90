package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work per migration phase, from a listener on the session.
  *
  * The benchmark sets the local property [[PhaseKey]] on its driver thread
  * before each phase; every job submitted from that thread carries it, and
  * its stages and tasks are attributed to that phase. Scheduler delay is the
  * time a task waited between its stage's submission and its own launch,
  * which is where tasks queue for the four local cores.
  */
final class SparkStats extends SparkListener {
  import SparkStats._

  private val stagePhase = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val acc = mutable.Map.empty[String, Acc]
  @volatile private var jobsOpen = 0

  private def of(phase: String): Acc = acc.getOrElseUpdate(phase, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsOpen += 1
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
    e.stageIds.foreach(stagePhase(_) = phase)
    of(phase).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobsOpen -= 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = of(stagePhase.getOrElse(e.stageId, ""))
    a.tasks += 1
    a.schedDelayMs += stageSubmitted.get(e.stageId)
      .map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
    Option(e.taskMetrics).foreach { m =>
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** Waits (bounded) for the listener bus to deliver every job's end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (jobsOpen > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def phase(p: String): Acc = synchronized(acc.getOrElse(p, new Acc))
}

object SparkStats {
  val PhaseKey = "perfbench.phase"

  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  def setPhase(sc: SparkContext, phase: String): Unit = sc.setLocalProperty(PhaseKey, phase)
}
