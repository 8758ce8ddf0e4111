package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Task metrics summed over the jobs of one job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var shuffleWriteRecords = 0L
  var spillB = 0L
  var maxMapTaskMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    shuffleWriteRecords += o.shuffleWriteRecords; spillB += o.spillB
    maxMapTaskMs = math.max(maxMapTaskMs, o.maxMapTaskMs)
  }
}

object Counters {
  def sum(cs: Iterable[Counters]): Counters = { val t = new Counters; cs.foreach(t += _); t }
}

/** Sums task metrics per job group. The benchmark names each group
  * `<op id>/<phase>` with `setJobGroup`, which is thread-local, so a
  * job is attributed to the phase that started it. Jobs without a
  * group land in [[GroupListener.Unattributed]].
  *
  * Every callback runs on the listener bus thread; read [[groups]]
  * only after `BenchBus.drain`.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counters]()

  private def counters(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(GroupListener.Unattributed)
    e.stageIds.foreach(stageGroup.put(_, g))
    counters(g).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counters(stageGroup.getOrDefault(e.stageInfo.stageId, GroupListener.Unattributed)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, GroupListener.Unattributed))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      if (e.taskType == "ShuffleMapTask") c.maxMapTaskMs = math.max(c.maxMapTaskMs, m.executorRunTime)
    }
  }

  def groups: Map[String, Counters] = byGroup.asScala.toMap

  def reset(): Unit = byGroup.clear()
}

object GroupListener {
  val Unattributed = "<none>"
}

/** One timed interval. All spans of one operation share `op`; `parent`
  * is the enclosing span's name, empty for the operation span itself.
  */
final case class Span(pass: Int, op: String, name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out once, at the end of the run. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()

  def add(s: Span): Unit = buf.add(s): Unit

  def all: Seq[Span] = buf.asScala.toSeq

  def json(origin: Long): String = all.sortBy(_.startNs).map { s =>
    f"""{"pass":${s.pass},"op":"${s.op}","span":"${s.name}","parent":"${s.parent}",""" +
      f""""start_s":${(s.startNs - origin) / 1e9}%.6f,"end_s":${(s.endNs - origin) / 1e9}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
