package cdibench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-metric sums for one tag (a span name, or "timed"/"untagged"). */
final class TaskSums {
  var tasks = 0L
  var jobs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L

  def add(o: TaskSums): Unit = {
    tasks += o.tasks; jobs += o.jobs; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill; bytesRead += o.bytesRead
    recordsRead += o.recordsRead; bytesWritten += o.bytesWritten; recordsWritten += o.recordsWritten
  }

  def copy(): TaskSums = { val c = new TaskSums; c.add(this); c }

  def minus(o: TaskSums): TaskSums = {
    val c = copy()
    c.tasks -= o.tasks; c.jobs -= o.jobs; c.runMs -= o.runMs; c.cpuNs -= o.cpuNs; c.gcMs -= o.gcMs
    c.shuffleWrite -= o.shuffleWrite; c.spill -= o.spill; c.bytesRead -= o.bytesRead
    c.recordsRead -= o.recordsRead; c.bytesWritten -= o.bytesWritten; c.recordsWritten -= o.recordsWritten
    c
  }

  def json: String =
    f"""{"jobs": $jobs, "tasks": $tasks, "task_run_s": ${runMs / 1e3}%.3f, "task_cpu_s": ${cpuNs / 1e9}%.3f, """ +
      f""""gc_s": ${gcMs / 1e3}%.3f, "shuffle_write_mb": ${shuffleWrite / 1e6}%.3f, "spill_mb": ${spill / 1e6}%.3f, """ +
      f""""input_mb": ${bytesRead / 1e6}%.3f, "records_read": $recordsRead, "output_mb": ${bytesWritten / 1e6}%.3f, """ +
      s""""records_written": $recordsWritten}"""
}

/** The benchmark's own SparkListener: sums task metrics per job and files
  * each job under the job group that was set when it was submitted. The
  * tracer sets the job group to the enclosing span's name, so every count
  * lands under the same tag as the span that caused it; a sampled span
  * later moves its jobs to the step that started them ([[retag]]).
  */
final class TagListener extends SparkListener {
  private final class Job(var tag: String, val startMs: Long) {
    val sums = new TaskSums
  }
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val untagged = new Job("untagged", 0L)

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(TagListener.JobGroup))).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val job = new Job(tagOf(e.properties), e.time)
    job.sums.jobs = 1
    e.stageInfos.foreach(s => stageJob.put(s.stageId, job))
    synchronized { jobs += job }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val job = stageJob.getOrDefault(e.stageId, untagged)
    synchronized {
      val s = job.sums
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.bytesRead += m.inputMetrics.bytesRead
      s.recordsRead += m.inputMetrics.recordsRead
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** Per-tag sums of every job so far, after the listener bus has drained. */
  def snapshot(sc: SparkContext): Map[String, TaskSums] = {
    org.apache.spark.CdiBenchBus.drain(sc)
    synchronized {
      (jobs :+ untagged).groupBy(_.tag).map { case (tag, js) =>
        val t = new TaskSums
        js.foreach(j => t.add(j.sums))
        tag -> t
      }
    }
  }

  /** Moves the jobs filed under `tag` that started inside one of
    * `segments` (start ms, end ms, step) to that segment's step.
    */
  def retag(sc: SparkContext, tag: String, segments: Seq[(Long, Long, String)]): Unit = {
    org.apache.spark.CdiBenchBus.drain(sc)
    synchronized {
      jobs.filter(_.tag == tag).foreach { j =>
        segments.find { case (a, b, _) => j.startMs >= a && j.startMs < b }.foreach(s => j.tag = s._3)
      }
    }
  }
}

object TagListener {
  /** The local property Spark stores the job group under. */
  val JobGroup = "spark.jobGroup.id"

  /** Per-tag difference `after - before`. */
  def delta(after: Map[String, TaskSums], before: Map[String, TaskSums]): Map[String, TaskSums] =
    after.map { case (k, v) => k -> before.get(k).fold(v.copy())(v.minus) }

  def total(m: Map[String, TaskSums]): TaskSums = {
    val t = new TaskSums
    m.values.foreach(t.add)
    t
  }
}

/** One recorded span. Spans of one run share `runId`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Samples one thread's stack every `periodMs` and names each sample
  * with `step` (None: no step). Runs until [[finish]].
  */
final class StackSampler(target: Thread, step: Array[StackTraceElement] => Option[String],
    periodMs: Long) extends Thread("cdibench-sampler") {
  /** (nanoTime, currentTimeMillis, step) of each sample. */
  private val samples = mutable.ArrayBuffer.empty[(Long, Long, Option[String])]
  @volatile private var running = true
  /** CPU time this thread used, set when it ends. */
  var cpuNs = 0L
  setDaemon(true)

  override def run(): Unit = {
    while (running) {
      val stack = target.getStackTrace
      samples += ((System.nanoTime(), System.currentTimeMillis(), step(stack)))
      try Thread.sleep(periodMs) catch { case _: InterruptedException => }
    }
    cpuNs = java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
  }

  def finish(): Seq[(Long, Long, Option[String])] = {
    running = false
    interrupt()
    join()
    samples.toSeq
  }
}

/** Span recorder. Every span sets the Spark job group to its own name
  * for its duration, so the listener files task metrics under the span
  * that submitted the job. Spans stay in memory until [[json]] is
  * written at the end of the run. When disabled, `span` only sets the
  * job group "timed", so untraced runs can still tell timed work from
  * set-up and checks.
  */
final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean,
    listener: TagListener = null) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)]
  private var nextId = 1

  /** Time tracing used: span bookkeeping on the traced thread and the
    * samplers' CPU time.
    */
  var overheadNs = 0L

  private def setGroup(tag: String): Unit = sc.setJobGroup(tag, tag, interruptOnCancel = false)

  def span[A](name: String)(body: => A): A =
    if (!enabled) {
      val outer = sc.getLocalProperty(TagListener.JobGroup)
      setGroup("timed")
      try body finally if (outer == null) sc.clearJobGroup() else setGroup(outer)
    } else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name) :: open
      setGroup(name)
      val t0 = System.nanoTime()
      overheadNs += t0 - b0
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some((_, outer)) => setGroup(outer)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, name, t0, t1)
        overheadNs += System.nanoTime() - t1
      }
    }

  /** A span around a call the benchmark cannot split itself. While the
    * body runs, the calling thread's stack is sampled every `periodMs`;
    * a run of samples that `step` names alike becomes a child span
    * (bounded halfway between samples), and the jobs the body started
    * move from this span's tag to the step the thread was in when each
    * job started.
    */
  def sampledSpan[A](name: String, step: Array[StackTraceElement] => Option[String],
      periodMs: Long = 10)(body: => A): A =
    if (!enabled) span(name)(body)
    else span(name) {
      val parent = open.head._1
      val (n0, m0) = (System.nanoTime(), System.currentTimeMillis())
      val sampler = new StackSampler(Thread.currentThread(), step, periodMs)
      sampler.start()
      try body
      finally {
        val (n1, m1) = (System.nanoTime(), System.currentTimeMillis())
        val samples = sampler.finish().filter(_._1 <= n1)
        overheadNs += sampler.cpuNs
        val bounds = (n0, m0) +: samples.sliding(2).collect {
          case Seq(a, b) => ((a._1 + b._1) / 2, (a._2 + b._2) / 2)
        }.toSeq :+ ((n1, m1))
        // bounds(i) .. bounds(i + 1) is the stretch sample i stands for
        val segments = mutable.ArrayBuffer.empty[(Int, Int, String)]
        samples.indices.foreach { i =>
          samples(i)._3.foreach { st =>
            if (segments.nonEmpty && segments.last._2 == i && segments.last._3 == st)
              segments(segments.size - 1) = segments.last.copy(_2 = i + 1)
            else segments += ((i, i + 1, st))
          }
        }
        segments.foreach { case (a, b, st) =>
          spans += Span(nextId, parent, st, bounds(a)._1, bounds(b)._1)
          nextId += 1
        }
        if (listener != null)
          listener.retag(sc, name, segments.map { case (a, b, st) => (bounds(a)._2, bounds(b)._2, st) }.toSeq)
        overheadNs += System.nanoTime() - n1
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  /** Span ids of spans recorded after `mark` (a size of [[recorded]]). */
  def since(mark: Int): Seq[Span] = spans.drop(mark).toSeq

  /** Self time per span: its duration minus the time its children cover. */
  def selfTimes(of: Seq[Span]): Map[Int, Double] = {
    val children = of.groupBy(_.parent)
    of.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(_.seconds).sum
      s.id -> (s.seconds - covered)
    }.toMap
  }

  def json(workload: String, seed: Long, tags: Map[String, TaskSums]): String = {
    val self = selfTimes(spans.toSeq)
    val t0 = spans.headOption.map(_ => spans.map(_.startNs).min).getOrElse(0L)
    val spanJson = spans.sortBy(_.startNs).map { s =>
      f"""    {"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "run_id": "$runId", """ +
        f""""start_s": ${(s.startNs - t0) / 1e9}%.6f, "end_s": ${(s.endNs - t0) / 1e9}%.6f, """ +
        f""""self_s": ${self(s.id)}%.6f}"""
    }.mkString(",\n")
    val bySelf = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
      .toSeq.sortBy(-_._2).map { case (n, v) => f"""    "$n": $v%.6f""" }.mkString(",\n")
    val tagJson = tags.toSeq.sortBy(_._1).map { case (k, v) => s"""    "$k": ${v.json}""" }.mkString(",\n")
    s"""{
       |  "run_id": "$runId",
       |  "workload": "$workload",
       |  "seed": $seed,
       |  "spans": [
       |$spanJson
       |  ],
       |  "self_s_by_name": {
       |$bySelf
       |  },
       |  "spark_by_tag": {
       |$tagJson
       |  }
       |}
       |""".stripMargin
  }
}
