package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark counters of one attribution row. */
final class Counters {
  val jobs, failedJobs, stages, tasks, failedTasks = new AtomicLong
  val cpuNs, runMs, shuffleBytes, spillBytes, inputBytes = new AtomicLong

  def add(o: Counters): Unit =
    fields.zip(o.fields).foreach { case (a, b) => a.addAndGet(b.get); () }

  def fields: Seq[AtomicLong] = Seq(jobs, failedJobs, stages, tasks,
    failedTasks, cpuNs, runMs, shuffleBytes, spillBytes, inputBytes)

  def asMap: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.get.toDouble, "failed_jobs" -> failedJobs.get.toDouble,
    "stages" -> stages.get.toDouble, "tasks" -> tasks.get.toDouble,
    "failed_tasks" -> failedTasks.get.toDouble,
    "task_cpu_s" -> cpuNs.get / 1e9, "task_run_s" -> runMs.get / 1e3,
    "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble,
    "input_bytes" -> inputBytes.get.toDouble)
}

/** Charges every job, stage and task to the span that submitted it.
  *
  * The span id travels as a Spark local property, which Spark hands to
  * threads the caller starts later (the query arms that run on pool
  * threads) and to its own broadcast and subquery threads, so work
  * started on another thread still lands in the calling span's row.
  * A job without the property is charged to [[Probe.Untagged]]. Every
  * event is also counted into [[total]] on its own, so the attribution
  * check can compare the rows' sum with an independent total.
  */
final class Probe extends SparkListener {
  val total = new Counters
  private val rows = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobTag = new ConcurrentHashMap[Int, String]()

  private def row(tag: String): Counters =
    rows.computeIfAbsent(tag, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Probe.Key))).getOrElse(Probe.Untagged)
    e.stageInfos.foreach(s => stageTag.putIfAbsent(s.stageId, tag))
    jobTag.put(e.jobId, tag)
    Seq(total, row(tag)).foreach(_.jobs.incrementAndGet())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = e.jobResult match {
    case JobSucceeded => ()
    case _ =>
      val tag = jobTag.getOrDefault(e.jobId, Probe.Untagged)
      Seq(total, row(tag)).foreach(_.failedJobs.incrementAndGet())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val tag = stageTag.getOrDefault(e.stageInfo.stageId, Probe.Untagged)
    Seq(total, row(tag)).foreach(_.stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.getOrDefault(e.stageId, Probe.Untagged)
    val m = e.taskMetrics
    Seq(total, row(tag)).foreach { c =>
      c.tasks.incrementAndGet()
      if (e.reason != Success) c.failedTasks.incrementAndGet()
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.runMs.addAndGet(m.executorRunTime)
        c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  /** A copy of the counters per span id and of the total, taken after
    * the listener bus has drained. */
  def snapshot(sc: SparkContext): (Map[String, Counters], Counters) = {
    org.apache.spark.graftbridge.ListenerBridge.flush(sc)
    def copy(c: Counters) = { val d = new Counters; d.add(c); d }
    (rows.asScala.map { case (k, c) => k -> copy(c) }.toMap, copy(total))
  }
}

object Probe {
  val Key = "perfbench.span"
  val Untagged = "untagged"
}

/** One timed call into a layer. `parent` is the enclosing span's id,
  * or -1 for a top-level operation. */
final case class Span(id: Int, name: String, label: String, parent: Int,
                      startNs: Long, endNs: Long, ok: Boolean, error: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around layer calls. With `traced` set, each span's id
  * is also set as the [[Probe.Key]] local property while its body
  * runs, so the listener charges the body's Spark work to it; without
  * it the recorder only reads the clock. Spans stay in memory until
  * the run writes them out. */
final class Tracer(sc: SparkContext, traced: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(0)
  private val current = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Run `body` as span `name`; a thrown error is recorded and rethrown. */
  def span[T](name: String, label: String = "")(body: => T): T = {
    val id = nextId.getAndIncrement().toInt
    val stack = current.get()
    val prevTag = if (traced) sc.getLocalProperty(Probe.Key) else null
    if (traced) sc.setLocalProperty(Probe.Key, id.toString)
    current.set(id :: stack)
    val t0 = System.nanoTime()
    var ok = false
    var err = ""
    try { val r = body; ok = true; r }
    catch { case e: Throwable => err = e.toString; throw e }
    finally {
      spans.add(Span(id, name, label, stack.headOption.getOrElse(-1), t0,
        System.nanoTime(), ok, err))
      current.set(stack)
      if (traced) sc.setLocalProperty(Probe.Key, prevTag)
    }
  }
}
