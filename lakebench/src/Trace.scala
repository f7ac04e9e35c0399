package lakebench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.lakebenchshim.Shim
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The traced-run collector. Spans (name, start, end, parent, op id) are
  * recorded around the benchmark's own calls into each layer and kept in
  * memory; Spark's public listeners (SparkListener, StreamingQueryListener)
  * are registered from here and their counts are attributed to the
  * enclosing span, or to the streaming query that ran the job. Planning
  * time comes from the query execution each SQL-execution-end event
  * carries, matched to its span through the jobs' execution id (a
  * QueryExecutionListener's events carry no such id). Everything is
  * rolled up once, at the end of the run.
  *
  * With `on = false` nothing is registered and `span` only runs its body,
  * so untraced runs pay nothing. */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val counters = mutable.HashMap[String, Double]()

  // listener state, guarded by `this`
  private val stageOwner = mutable.HashMap[Int, Owner]()
  private val jobs = mutable.HashMap[Int, JobRec]()
  private val tasks = mutable.HashMap[Owner, TaskAgg]()
  private val execSpan = mutable.HashMap[Long, Int]()
  private val planMs = mutable.ArrayBuffer[(Long, Double)]()
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val o = owner(e.properties)
      jobs(e.jobId) = JobRec(o, e.time, -1L)
      e.stageIds.foreach(stageOwner(_) = o)
      for (p <- Option(e.properties).toSeq;
           x <- Option(p.getProperty("spark.sql.execution.id")); s <- o.span)
        execSpan(x.toLong) = s
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = tasks.getOrElseUpdate(stageOwner.getOrElse(e.stageId, NoOwner), new TaskAgg)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        Shim.planMs(end).foreach(ms => Trace.this.synchronized(planMs += ((end.executionId, ms))))
      case _ => ()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (on) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  private def owner(p: java.util.Properties): Owner =
    if (p == null) NoOwner
    else Owner(Option(p.getProperty("lakebench.span")).map(_.toInt),
      Option(p.getProperty("sql.streaming.queryId")))

  /** Run `body` inside a span named `name`; `op` ties the spans of one
    * workload operation together. */
  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val s = synchronized {
        val x = Span(spans.size, name, op, parent, System.currentTimeMillis(), -1L)
        spans += x; x
      }
      val prevProp = sc.getLocalProperty("lakebench.span")
      stack.set(s.id :: stack.get)
      sc.setLocalProperty("lakebench.span", s.id.toString)
      try body
      finally {
        synchronized(spans(s.id) = s.copy(end = System.currentTimeMillis()))
        stack.set(stack.get.tail)
        sc.setLocalProperty("lakebench.span", prevProp)
      }
    }

  def count(name: String, n: Double = 1): Unit =
    if (on) synchronized(counters(name) = counters.getOrElse(name, 0.0) + n)
  def counter(name: String): Double = synchronized(counters.getOrElse(name, 0.0))

  /** Deliver every pending listener event; the roll-ups call it first. */
  def drain(): Unit = if (on) Shim.drain(sc)

  /** Spans named `name` and every span below them. */
  private def closure(name: String): (Seq[Span], Set[Int]) = synchronized {
    val roots = spans.filter(_.name == name).toSeq
    val ids = mutable.HashSet[Int]() ++= roots.map(_.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    (roots, ids.toSet)
  }

  /** Roll-up of every span named `name`, with its children. */
  def spanStats(name: String): Stats = { drain(); rollup(name) }

  private def rollup(name: String): Stats = synchronized {
    val (roots, ids) = closure(name)
    val agg = new TaskAgg
    tasks.foreach { case (o, a) => if (o.span.exists(ids)) agg.add(a) }
    val js = jobs.values.filter(_.owner.span.exists(ids)).toSeq
    val jobWallMs = roots.map { r =>
      union(js.map(j => (math.max(j.start, r.start), math.min(if (j.end < 0) r.end else j.end, r.end))))
    }.sum
    val wallMs = roots.map(r => (r.end - r.start).toDouble).sum
    val execs = execSpan.filter { case (_, s) => ids(s) }.keySet
    val plan = planMs.filter(p => execs(p._1)).map(_._2).sum
    Stats(roots.size, js.size, wallMs, jobWallMs, plan, agg)
  }

  /** Roll-up of the tasks run by one streaming query. */
  def queryStats(queryId: String): TaskAgg = { drain(); queryAgg(queryId) }

  private def queryAgg(queryId: String): TaskAgg = synchronized {
    val agg = new TaskAgg
    tasks.foreach { case (o, a) => if (o.query.contains(queryId)) agg.add(a) }
    agg
  }

  def allStreaming(): TaskAgg = {
    drain()
    synchronized {
      val agg = new TaskAgg
      tasks.foreach { case (o, a) => if (o.query.isDefined) agg.add(a) }
      agg
    }
  }

  def spanCount: Int = synchronized(spans.size)

  def close(): Unit = if (on) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  final case class Span(id: Int, name: String, op: Long, parent: Int,
                        start: Long, end: Long)
  final case class Owner(span: Option[Int], query: Option[String])
  val NoOwner: Owner = Owner(None, None)
  final case class JobRec(owner: Owner, start: Long, end: Long)

  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var bytesWritten = 0L
    def add(o: TaskAgg): Unit = {
      tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; spill += o.spill
      bytesWritten += o.bytesWritten
    }
    def runCoreS: Double = runMs / 1e3
    def cpuCoreS: Double = cpuNs / 1e9
  }

  /** `n` spans, `jobs` jobs; `wallMs` the spans' summed wall time and
    * `jobWallMs` the part of it some job was running; `planMs` the query
    * planning phases of the executions started inside the spans. */
  final case class Stats(n: Int, jobs: Int, wallMs: Double, jobWallMs: Double,
                         planMs: Double, tasks: TaskAgg) {
    def driverGapMs: Double = wallMs - jobWallMs
    def per(x: Double): Double = if (n == 0) Double.NaN else x / n
  }

  /** Files under `dir` that the executed plan of `df` opened
    * (FileSourceScanExec `numFiles`), AQE stages and subqueries included;
    * scans of other locations (a layout's manifest) are not counted. Call
    * after `df` ran through its own QueryExecution (e.g. `df.collect()`). */
  def filesRead(df: DataFrame, dir: String): Long = {
    val root = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.forall(_.toUri.getPath.startsWith(root)) =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }
}
