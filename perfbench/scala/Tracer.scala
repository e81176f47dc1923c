package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace tree. Times are epoch milliseconds. `key` and
  * `parentKey` are Spark ids (execution, job, stage) where the layer
  * has one; other parents are found by time containment when the run
  * ends.
  */
final case class Span(layer: String, name: String, query: String,
    start: Double, end: Double, key: Long = -1L, parentKey: Long = -1L)

/** Per-query counters fed by the three listeners. */
final class QueryCounters {
  var actions = 0L
  var planMs = 0L
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var pinnedPeak = 0L
  var batches = 0L
  val batchMs = mutable.ArrayBuffer.empty[Double]
  val stateRows = mutable.HashMap.empty[String, Long]
  var worstSkew = 0.0
}

/** Listener set registered by the benchmark on its own session: a
  * SparkListener (SQL executions, jobs, stages, tasks, block updates),
  * a QueryExecutionListener (Catalyst phase times) and a
  * StreamingQueryListener (micro-batches and state size). Events are
  * attributed to the benchmark query that was running: jobs and SQL
  * executions through the local property and job tag the benchmark
  * sets on its own thread (threads started from it inherit both),
  * streams through the query current when they start, Catalyst time
  * through the query window its first phase starts in.
  */
final class Tracer extends SparkListener {
  import Tracer._

  @volatile var current: String = ""
  val counters = new ConcurrentHashMap[String, QueryCounters]()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  private val execQuery = new ConcurrentHashMap[Long, String]()
  private val execStart = new ConcurrentHashMap[Long, java.lang.Long]()
  private val execRoot = new ConcurrentHashMap[Long, Long]()
  private val jobQuery = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobExec = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTaskMs = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val blockBytes = new ConcurrentHashMap[String, Long]()
  private val pinned = new java.util.concurrent.atomic.AtomicLong()
  private val streamQuery = new ConcurrentHashMap[String, String]()
  private val streamStart = new ConcurrentHashMap[String, java.lang.Double]()

  private val markerSeen = new java.util.concurrent.CountDownLatch(1)

  /** Runs a one-task job and blocks until this listener has seen it
    * end, then waits a little longer for the other listener queues.
    */
  def awaitMarker(sc: org.apache.spark.SparkContext): Unit = {
    sc.setLocalProperty(QueryProperty, MarkerQuery)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(QueryProperty, null)
    markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS)
    Thread.sleep(500)
    counters.remove(MarkerQuery)
  }

  def of(q: String): QueryCounters =
    counters.computeIfAbsent(if (q == null) "" else q, _ => new QueryCounters)

  private def queryOfProps(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(QueryProperty))).getOrElse(current)

  /** Starts a query's window: its pinned-bytes peak begins at the
    * bytes still pinned by earlier queries.
    */
  def beginQuery(q: String): Unit = {
    current = q
    val c = of(q)
    c.synchronized { c.pinnedPeak = math.max(c.pinnedPeak, pinned.get()) }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      val q = e.jobTags.collectFirst {
        case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix)
      }.getOrElse(current)
      execQuery.put(e.executionId, q)
      execStart.put(e.executionId, e.time)
      e.rootExecutionId.foreach(r => execRoot.put(e.executionId, r))
      val c = of(q)
      if (e.rootExecutionId.forall(_ == e.executionId)) c.synchronized { c.actions += 1 }
    case e: SparkListenerSQLExecutionEnd =>
      val q = execQuery.getOrDefault(e.executionId, current)
      val s = Option(execStart.get(e.executionId)).map(_.toDouble).getOrElse(e.time.toDouble)
      val root = execRoot.getOrDefault(e.executionId, e.executionId)
      spans.add(Span("action", s"execution ${e.executionId}", q, s, e.time.toDouble,
        key = e.executionId, parentKey = if (root != e.executionId) root else -1L))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val q = queryOfProps(e.properties)
    jobQuery.put(e.jobId, q)
    jobStart.put(e.jobId, e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => jobExec.put(e.jobId, id.toLong))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val c = of(q)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (jobQuery.get(e.jobId) == MarkerQuery) { markerSeen.countDown(); return }
    val q = jobQuery.getOrDefault(e.jobId, current)
    val s = Option(jobStart.get(e.jobId)).map(_.toDouble).getOrElse(e.time.toDouble)
    spans.add(Span("job", s"job ${e.jobId}", q, s, e.time.toDouble,
      key = e.jobId.toLong, parentKey = jobExec.getOrDefault(e.jobId, -1L)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val job = stageJob.getOrDefault(info.stageId, -1)
    val q = jobQuery.getOrDefault(job, current)
    for (s <- info.submissionTime; f <- info.completionTime)
      spans.add(Span("stage", s"stage ${info.stageId}.${info.attemptNumber()}", q,
        s.toDouble, f.toDouble, key = info.stageId.toLong, parentKey = job.toLong))
    val times = Option(stageTaskMs.remove((info.stageId, info.attemptNumber())))
    times.filter(_.size >= 2).foreach { ts =>
      val sorted = ts.sorted
      val median = sorted(sorted.size / 2).toDouble
      val skew = if (median > 0) sorted.last / median else 1.0
      val c = of(q)
      c.synchronized { c.worstSkew = math.max(c.worstSkew, skew) }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.getOrDefault(e.stageId, -1)
    val q = jobQuery.getOrDefault(job, current)
    val c = of(q)
    val m = Option(e.taskMetrics)
    val dur = e.taskInfo.duration
    val stageTimes = stageTaskMs.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => mutable.ArrayBuffer.empty[Long])
    stageTimes.synchronized { stageTimes += dur }
    c.synchronized {
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      c.taskMs += dur
      m.foreach { t =>
        c.gcMs += t.jvmGCTime
        c.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
        c.spill += t.diskBytesSpilled
        c.input += t.inputMetrics.bytesRead
        c.output += t.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val now = info.memSize + info.diskSize
      val before = Option(blockBytes.put(info.blockId.name, now)).getOrElse(0L)
      val total = pinned.addAndGet(now - before)
      if (now == 0) blockBytes.remove(info.blockId.name)
      val c = of(current)
      c.synchronized { c.pinnedPeak = math.max(c.pinnedPeak, total) }
    }
  }

  /** Catalyst time of each finished SQL execution, keyed by the start
    * of its first phase; [[attributePlans]] assigns it to a query.
    */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      if (phases.nonEmpty)
        plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  /** The listener callback carries no execution id or thread, so an
    * execution's Catalyst time goes to the query whose window (key,
    * start, end) contains the start of its first phase; queries run one
    * at a time, so windows do not overlap.
    */
  def attributePlans(windows: Seq[(String, Double, Double)]): Unit =
    plans.asScala.foreach { case (start, ms) =>
      windows.find(w => w._2 <= start && start <= w._3).foreach { w =>
        val c = of(w._1)
        c.synchronized { c.planMs += ms }
      }
    }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      streamQuery.put(e.runId.toString, current)
      streamStart.put(e.runId.toString, nowMs)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val q = streamQuery.getOrDefault(p.runId.toString, current)
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + ms
      spans.add(Span("batch", s"batch ${p.batchId}", q, end - ms, end))
      val c = of(q)
      c.synchronized {
        c.batches += 1
        c.batchMs += ms
        c.stateRows(p.runId.toString) = math.max(c.stateRows.getOrElse(p.runId.toString, 0L),
          p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      val id = e.runId.toString
      val s = Option(streamStart.get(id)).map(_.doubleValue).getOrElse(nowMs)
      spans.add(Span("stream", s"stream $id", streamQuery.getOrDefault(id, current), s, nowMs))
    }
  }

  /** Self time per query and layer: each span's duration minus the
    * part of its interval covered by its children. Children are found
    * by id (stage → job → SQL action, nested action → root action) and,
    * for the rest, by time containment inside the same query.
    */
  def selfTimes(all: Seq[Span]): Map[String, Map[String, Double]] =
    all.groupBy(_.query).map { case (q, ss) =>
      val children = mutable.HashMap.empty[Span, mutable.ArrayBuffer[Span]]
      for (s <- ss if rank(s) > 1) {
        val byId = s.layer match {
          case "stage" => ss.find(p => p.layer == "job" && p.key == s.parentKey)
          case "job" | "action" if s.parentKey >= 0 =>
            ss.find(p => p.layer == "action" && p.key == s.parentKey)
          case _ => None
        }
        val parent = byId.orElse(ss.filter(p => rank(p) > 0 && rank(p) < rank(s) &&
          p.start <= s.start + 1 && p.end >= s.end - 1).sortBy(p => -rank(p)).headOption)
        parent.foreach(p => children.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += s)
      }
      val self = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      for (s <- ss) {
        val covered = union(children.getOrElse(s, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))))
        self(s.layer) += math.max(0.0, (s.end - s.start) - covered) / 1000.0
      }
      q -> self.toMap
    }
}

object Tracer {
  val QueryProperty = "perfbench.query"
  val TagPrefix = "perfbench.query."
  val MarkerQuery = "perfbench.marker"
  def nowMs: Double = System.currentTimeMillis().toDouble

  /** Depth of a span's layer in the tree run → query → build/execute →
    * SQL action or stream → job or micro-batch → stage.
    */
  def rank(s: Span): Int = s.layer match {
    case "run" => 0
    case "query" => 1
    case "build" | "execute" => 2
    case "action" | "stream" => 3
    case "job" | "batch" => 4
    case _ => 5
  }

  /** Length of the union of closed intervals. */
  def union(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s, e) <- iv.toSeq.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
