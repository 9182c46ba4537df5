package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. `kind` names the layer the span belongs to
  * (query, construct, plan, execute, turn, view, probe, batch, pass);
  * `req` is the id of the client request that opened it. */
final case class Span(
    id: Int, name: String, kind: String, startNs: Long, endNs: Long,
    parent: Int, req: Int)

/** In-memory span recorder for the single closed-loop client thread.
  * Disabled, it only runs the body: the untraced run pays nothing. */
final class Spans(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 1
  var req = 0

  def apply[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        done += Span(id, name, kind, t0, System.nanoTime(), parent, req)
      }
    }

  /** Record a finished child of the open span whose times were measured
    * elsewhere (a micro-batch, timed by the stream thread). */
  def child(name: String, kind: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      done += Span(nextId, name, kind, startNs, endNs, stack.headOption.getOrElse(0), req)
      nextId += 1
    }

  def all: Seq[Span] = done.toSeq

  /** Self time per span kind: each span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    done.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    done.groupBy(_.kind).map { case (k, ss) =>
      k -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9
    }
  }

  def writeJsonl(path: String): Unit = {
    val lines = done.sortBy(_.startNs).map { s =>
      Main.json.writeValueAsString(mutable.LinkedHashMap(
        "id" -> s.id, "name" -> s.name, "kind" -> s.kind,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "req" -> s.req))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Scheduler and executor counters for a time window, attributed from
  * a [[JobLedger]]. */
final case class SchedStats(
    jobs: Long, stages: Long, tasks: Long, singleTaskStages: Long,
    taskOverheadS: Double, runS: Double, cpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, fetchWaitS: Double,
    spillMb: Double)

/** A SparkListener that keeps every job, stage and task event of the
  * traced pass. Events are attributed to client spans by time window:
  * chat turns run on the server's handler threads and micro-batches on
  * the stream thread, where the client's `setJobGroup` does not reach,
  * but with one closed-loop client every job inside a window is that
  * window's work. */
final class JobLedger extends SparkListener {
  private val jobStarts = new ConcurrentLinkedQueue[Long]()
  private val stagesDone = new ConcurrentLinkedQueue[(Long, Int)]()
  private val tasks = new ConcurrentLinkedQueue[Array[Double]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add((e.stageInfo.submissionTime.getOrElse(0L), e.stageInfo.numTasks))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val sr = m.shuffleReadMetrics
      tasks.add(Array(
        info.launchTime.toDouble,
        info.duration.toDouble,
        m.executorRunTime.toDouble,
        m.executorCpuTime / 1e6,
        m.jvmGCTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten.toDouble,
        (sr.remoteBytesRead + sr.localBytesRead).toDouble,
        sr.fetchWaitTime.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
    }
  }

  def attach(sc: SparkContext): Unit = sc.addSparkListener(this)

  def detach(sc: SparkContext): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(this)
  }

  /** Counters of everything started inside any of `windows` (ms). */
  def window(windows: Seq[(Long, Long)]): SchedStats = {
    def in(t: Double) = windows.exists { case (a, b) => t >= a && t <= b }
    val ts = tasks.asScala.filter(t => in(t(0))).toSeq
    val st = stagesDone.asScala.filter(s => in(s._1.toDouble)).toSeq
    def sum(i: Int) = ts.map(_(i)).sum
    val mb = 1024.0 * 1024.0
    SchedStats(
      jobs = jobStarts.asScala.count(t => in(t.toDouble)).toLong,
      stages = st.size.toLong,
      tasks = ts.size.toLong,
      singleTaskStages = st.count(_._2 == 1).toLong,
      taskOverheadS = ts.map(t => math.max(0.0, t(1) - t(2))).sum / 1e3,
      runS = sum(2) / 1e3,
      cpuS = sum(3) / 1e3,
      gcS = sum(4) / 1e3,
      shuffleWriteMb = sum(5) / mb,
      shuffleReadMb = sum(6) / mb,
      fetchWaitS = sum(7) / 1e3,
      spillMb = sum(8) / mb)
  }
}
