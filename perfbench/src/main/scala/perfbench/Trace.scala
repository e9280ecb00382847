package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** One traced interval. `parent` is the id of the span that caused it (0 =
  * none); all spans of one benchmark run share `run`. Times are
  * `System.nanoTime` nanoseconds. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Long, end: Long, run: String) {
  def dur: Long = end - start
}

/** In-memory span recorder, written out once when the run ends. When
  * disabled, [[span]] only runs its body, so untraced passes pay nothing
  * beyond one branch per layer call. */
final class Tracer(val run: String) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  // the span enclosing the caller's current layer call, per thread
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }

  def newId(): Long = ids.incrementAndGet()
  def currentId: Long = current.get

  def record(s: Span): Unit = if (enabled) spans.synchronized(spans += s)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        record(Span(id, parent, layer, name, t0, System.nanoTime(), run))
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover (children may overlap, e.g. the
    * parallel tasks of one stage). */
  def selfTimeByLayer(of: Seq[Span]): Map[String, Long] = {
    val kids = of.groupBy(_.parent)
    of.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var hi = Long.MinValue
        cs.foreach { case (a, b) =>
          if (a >= hi) { covered += b - a; hi = b }
          else if (b > hi) { covered += b - hi; hi = b }
        }
        s.dur - covered
      }.sum
    }
  }

  def write(file: File): Unit = {
    val out = new PrintWriter(file, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      out.println(Json.obj("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end, "run" -> s.run))
    } finally out.close()
  }
}

/** Spark executor numbers summed over the tasks of jobs tagged with the
  * local property [[Executor.QueryProp]] (set per query by the workload),
  * plus job/stage/task spans when tracing is on. Listener events arrive on
  * Spark's listener bus, so readers call `Bus.drain` first. */
final class Executor(tracer: Tracer) extends SparkListener {
  final class Agg {
    var taskMs, cpuNs, gcMs, shuffleWrite, spill, tasks, stages = 0L
    def +=(o: Agg): Unit = {
      taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
      spill += o.spill; tasks += o.tasks; stages += o.stages
    }
  }
  val byQuery = new java.util.concurrent.ConcurrentHashMap[String, Agg]()
  // all callbacks run on the one listener-bus thread
  private val stageQuery = mutable.HashMap.empty[Int, String]
  // span ids are handed out at job start so tasks, which end before their
  // stage, can name their parent
  private val stageSpan = mutable.HashMap.empty[Int, (Long, Long)] // stage -> (id, job span)
  private val jobSpan = mutable.HashMap.empty[Int, (Long, Long, Long)] // job -> (id, parent, start ms)
  // wall-clock ms → nanoTime, for event timestamps
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  private def agg(q: String) = byQuery.computeIfAbsent(q, _ => new Agg)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    props.flatMap(p => Option(p.getProperty(Executor.QueryProp)))
      .foreach(q => js.stageIds.foreach(sid => stageQuery.getOrElseUpdate(sid, q)))
    if (tracer.enabled) {
      val parent = props.flatMap(p => Option(p.getProperty(Executor.SpanProp))).map(_.toLong)
        .getOrElse(0L)
      val id = tracer.newId()
      jobSpan(js.jobId) = (id, parent, js.time)
      js.stageIds.foreach(sid => if (!stageSpan.contains(sid)) stageSpan(sid) = (tracer.newId(), id))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobSpan.remove(je.jobId).foreach { case (id, parent, t0) =>
      tracer.record(Span(id, parent, "job", s"job-${je.jobId}", ns(t0), ns(je.time), tracer.run))
    }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val info = sc.stageInfo
    stageQuery.get(info.stageId).foreach { q => val a = agg(q); a.synchronized(a.stages += 1) }
    for ((id, job) <- stageSpan.remove(info.stageId); t0 <- info.submissionTime;
         t1 <- info.completionTime)
      tracer.record(Span(id, job, "stage", s"stage-${info.stageId}", ns(t0), ns(t1), tracer.run))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    for (q <- stageQuery.get(te.stageId); m <- Option(te.taskMetrics)) {
      val a = agg(q)
      a.synchronized {
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.tasks += 1
      }
    }
    for ((stage, _) <- stageSpan.get(te.stageId); i <- Option(te.taskInfo))
      tracer.record(Span(tracer.newId(), stage, "task", s"task-${i.taskId}",
        ns(i.launchTime), ns(i.finishTime), tracer.run))
  }

  /** Sum over the given queries (missing ones count as zero). */
  def total(queries: Iterable[String]): Agg = {
    val t = new Agg
    queries.foreach(q => Option(byQuery.get(q)).foreach(t += _))
    t
  }
}

object Executor {
  val QueryProp = "perfbench.query"
  val SpanProp = "perfbench.span"
}

/** Per-operator SQLMetrics from an executed physical plan, walking through
  * adaptive plans and query stages. */
object PlanMetrics {
  final case class Op(name: String, metrics: Map[String, Long])

  def operators(plan: SparkPlan): Seq[Op] = {
    val out = mutable.ArrayBuffer.empty[Op]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ =>
        out += Op(p.nodeName, p.metrics.map { case (k, m) => k -> m.value })
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }
}
