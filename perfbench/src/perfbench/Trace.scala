package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed layer call. `group` is the Spark job group the call ran
  * under, so listener counts can be attributed to it; `parent` is the
  * enclosing span's id (-1 at top level).
  */
final case class Span(
    id: Int, name: String, parent: Int, pass: Int, op: String,
    startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counts the listener saw for one job group (one span). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
}

/** Job/stage/task counters keyed by job group. Spans set the job group
  * to `span:<id>` while they run, so every job a layer call triggers,
  * eager ones included, is charged to that layer's span.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, GroupStats]()

  private def stats(g: String): GroupStats = byGroup.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    stats(g).synchronized { stats(g).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    stats(g).synchronized { stats(g).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = stats(stageGroup.getOrDefault(e.stageId, ""))
    s.synchronized {
      s.tasks += 1
      s.runNs += m.executorRunTime * 1000000L
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
    }
  }
}

/** In-memory span recorder. Spans nest through a stack; entering a
  * span points the thread's job group at it and leaving restores the
  * parent's, so Spark jobs land on the innermost running layer.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  def span[T](name: String, pass: Int, op: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, parent, pass, op, System.nanoTime())
    spans += s
    stack.push(s)
    sc.setJobGroup(s"span:${s.id}", s"$name $op", interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span:${p.id}", s"${p.name} ${p.op}", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Span seconds minus the seconds of its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}
