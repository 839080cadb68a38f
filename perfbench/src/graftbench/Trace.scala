package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region of a traced op. `trace` is the op's root span id;
  * `parent` is 0 for the root. `start`/`end` are System.nanoTime; the
  * wall-clock ms copies line spans up with listener event times. */
final case class Span(id: Long, trace: Long, parent: Long, layer: String,
    name: String, start: Long, var end: Long = 0L) {
  val startMs: Long = System.currentTimeMillis()
  var endMs: Long = 0L
  def seconds: Double = (end - start) / 1e9
}

/** Per-span executor-side counters, filled by [[JobListener]]. */
final class Counters {
  var jobs, stages, tasks = 0L
  var busyMs, waitMs, gcMs = 0L
  var inputBytes, shuffleWriteBytes, spillBytes, writeBytes = 0L
  var scanTasks, scanBusyMs, writeTasks = 0L
}

/** The SQL executions started from one graft method (a call site): how
  * many, how many were `count` actions, their wall time, and the
  * executor run time of their tasks. */
final class SiteStats {
  var execs, counts, wallMs, busyMs = 0L
}

/** The spans of a traced run. Each op is one trace; around every span
  * the Spark job group AND the `graftbench.span` local property are set
  * to the span id, so [[JobListener]] rolls every job up to the
  * innermost open span. The local property is what attribution reads:
  * it is inherited by the threads a call starts (stream execution,
  * parallel CV fits), while a streaming query overwrites the job group
  * with its own run id. Spans stay in memory; they are summarized once
  * when the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0L)

  private def current: Option[Span] =
    Option(sc.getLocalProperty(Tracer.Prop)).map(_.toLong)
      .flatMap(id => spans.find(_.id == id))

  def span[T](layer: String, name: String)(body: => T): T = {
    val parent = current
    val id = ids.incrementAndGet()
    val s = Span(id, parent.map(_.trace).getOrElse(id),
      parent.map(_.id).getOrElse(0L), layer, name, System.nanoTime())
    spans.synchronized(spans += s)
    sc.setLocalProperty(Tracer.Prop, id.toString)
    sc.setJobGroup(id.toString, s"$layer:$name", interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      parent match {
        case Some(p) =>
          sc.setLocalProperty(Tracer.Prop, p.id.toString)
          sc.setJobGroup(p.id.toString, s"${p.layer}:${p.name}",
            interruptOnCancel = false)
        case None =>
          sc.setLocalProperty(Tracer.Prop, null)
          sc.clearJobGroup()
      }
    }
  }

  /** Span duration minus the union of its direct children's intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end))
      .sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > ce) { covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    covered += ce - cs
    s.seconds - covered / 1e9
  }
}

object Tracer { val Prop = "graftbench.span" }

/** SparkListener registered by the benchmark: attributes jobs, stages,
  * tasks, executor run/GC time, scheduling wait, input, shuffle, spill
  * and write bytes to the span tagged on each job; attributes each SQL
  * execution to the graft method that started it (see [[site]]); and
  * counts the cached (materialized) RDD blocks reported while an op
  * runs. */
final class JobListener extends SparkListener {
  import org.apache.spark.sql.execution.SparkPlanInfo
  import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
    SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

  val bySpan = new ConcurrentHashMap[Long, Counters]()
  val untagged = new Counters
  val bySite = new ConcurrentHashMap[String, SiteStats]()
  /** the executions with `connectedComponents` on their stack */
  val cc = new SiteStats
  /** rows out of the Jaccard verify joins and out of the joins that
    * feed them (the candidate pairs); see [[watch]] */
  val verified, candidates = new AtomicLong(0L)
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageExec = new ConcurrentHashMap[Int, Long]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val execSite = new ConcurrentHashMap[Long, (String, Long, Boolean)]()
  private val scanStages = ConcurrentHashMap.newKeySet[Int]()
  /** accumulator id -> the counter its updates add to */
  private val watched = new ConcurrentHashMap[Long, AtomicLong]()
  /** start time of every job, for the self-check */
  val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val blockRdds = ConcurrentHashMap.newKeySet[Int]()
  val blockBytes = new AtomicLong(0L)

  private val ignored = new Counters
  /** -1: a job no span tagged; -2: the listener's own drain marker */
  private def counters(span: Long): Counters =
    if (span == -2L) ignored
    else if (span < 0) untagged
    else bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = (k: String) => Option(e.properties).flatMap(p =>
      Option(p.getProperty(k)))
    if (prop(JobListener.Drain).nonEmpty) {
      drainJobs.add(e.jobId)
      e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, -2L))
      return
    }
    val span = prop(Tracer.Prop).map(_.toLong).getOrElse(-1L)
    jobStarts.add(e.time)
    e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, span))
    prop("spark.sql.execution.id").map(_.toLong).foreach(x =>
      e.stageInfos.foreach(s => stageExec.putIfAbsent(s.stageId, x)))
    val c = counters(span)
    c.synchronized(c.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (drainJobs.remove(e.jobId)) drained.countDown()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      JobListener.site(s.details).foreach { site =>
        val inCC = s.details.contains(".connectedComponents")
        execSite.put(s.executionId, (site, s.time, inCC))
        val count = s.details.linesIterator.take(3).exists(_.contains(".count("))
        for (st <- bySite.computeIfAbsent(site, _ => new SiteStats) +:
            Option.when(inCC)(cc).toSeq)
          st.synchronized { st.execs += 1; if (count) st.counts += 1 }
      }
      watch(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => watch(u.sparkPlanInfo)
    case x: SparkListenerSQLExecutionEnd =>
      Option(execSite.get(x.executionId)).foreach { case (site, t0, inCC) =>
        for (st <- bySite.get(site) +: Option.when(inCC)(cc).toSeq)
          st.synchronized(st.wallMs += x.time - t0)
      }
    case _ =>
  }

  /** Watch the Jaccard verify of a plan: graft fuses the `jaccard >= t`
    * test into the join that brings in the second shingle set, so a join
    * whose condition calls `sorted_intersect_count` emits the verified
    * pairs, and the first join below it (the one that brings in the
    * first set, one row per pair) the candidate pairs. Adaptive re-plans
    * repeat nodes with the same accumulators, so each is watched once. */
  private def watch(p: SparkPlanInfo): Unit = {
    def rowsAcc(n: SparkPlanInfo) =
      n.metrics.find(_.name == "number of output rows").map(_.accumulatorId)
    def firstJoin(n: SparkPlanInfo): Option[SparkPlanInfo] =
      n.children.iterator.flatMap(c =>
        if (c.nodeName.contains("Join")) Some(c) else firstJoin(c)).nextOption()
    if (p.nodeName.contains("Join") &&
        p.simpleString.contains("sorted_intersect_count(")) {
      rowsAcc(p).foreach(watched.putIfAbsent(_, verified))
      firstJoin(p).flatMap(rowsAcc).foreach(watched.putIfAbsent(_, candidates))
    }
    p.children.foreach(watch)
  }

  private val drainJobs = ConcurrentHashMap.newKeySet[Int]()
  private val drained = new java.util.concurrent.CountDownLatch(1)

  /** Wait until the listener has seen every event posted so far: the
    * bus delivers in order, so the end of a marker job run now implies
    * all earlier events were handled. Call once, at the end of a run. */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty(JobListener.Drain, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobListener.Drain, null)
    drained.await(30, java.util.concurrent.TimeUnit.SECONDS)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stageSubmitted.put(si.stageId,
      si.submissionTime.getOrElse(System.currentTimeMillis()))
    if (si.rddInfos.exists(_.name == "FileScanRDD")) scanStages.add(si.stageId)
    val c = counters(stageSpan.getOrDefault(si.stageId, -1L))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageSpan.getOrDefault(e.stageId, -1L))
    val m = e.taskMetrics
    val sub = stageSubmitted.getOrDefault(e.stageId, e.taskInfo.launchTime)
    c.synchronized {
      c.tasks += 1
      c.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
      if (m != null) {
        c.busyMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        if (scanStages.contains(e.stageId)) {
          c.scanTasks += 1
          c.scanBusyMs += m.executorRunTime
          c.inputBytes += m.inputMetrics.bytesRead
        }
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.writeBytes += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) c.writeTasks += 1
      }
    }
    if (m != null) Option(stageExec.get(e.stageId))
      .flatMap(x => Option(execSite.get(x))).foreach { case (site, _, inCC) =>
        for (st <- bySite.get(site) +: Option.when(inCC)(cc).toSeq)
          st.synchronized(st.busyMs += m.executorRunTime)
      }
    if (e.reason == org.apache.spark.Success)
      e.taskInfo.accumulables.foreach(a =>
        Option(watched.get(a.id)).foreach(n => a.update.foreach {
          case v: java.lang.Long => n.addAndGet(v)
          case _ =>
        }))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      b.blockId.asRDDId.foreach(r => blockRdds.add(r.rddId))
      blockBytes.addAndGet(b.memSize + b.diskSize)
    }
  }
}

object JobListener {
  val Drain = "graftbench.drain"

  /** The method a SQL execution was started from: the innermost graft
    * (or benchmark) frame of its long call site, taken in the thread
    * that ran the action, so it holds for adaptive execution's async
    * jobs too; as `Object.method`. */
  def site(details: String): Option[String] =
    details.linesIterator.map(_.trim).find(_.startsWith("graft"))
      .map { l =>
        val frame = l.takeWhile(_ != '(')
        val method = frame.substring(frame.lastIndexOf('.') + 1)
          .replaceAll("^\\$anonfun\\$", "").replaceAll("\\$.*$", "")
        val obj = frame.take(frame.lastIndexOf('.'))
        s"${obj.substring(obj.lastIndexOf('.') + 1).stripSuffix("$")}.$method"
      }
}

/** Per micro-batch progress of every streaming query, from the
  * benchmark's own StreamingQueryListener. */
final class StreamListener extends StreamingQueryListener {
  final case class Batch(ms: Long, sinkMs: Long, stateRows: Long,
      commitMs: Long, stateMem: Long)
  val batches = new ConcurrentHashMap[java.util.UUID,
    java.util.concurrent.ConcurrentLinkedQueue[Batch]]()
  val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = {
    val p = e.progress
    if (p.numInputRows > 0 || p.stateOperators.nonEmpty) {
      val ops = p.stateOperators.toSeq
      batches.computeIfAbsent(p.runId,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[Batch]())
        .add(Batch(p.batchDuration,
          Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L),
          ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
          ops.map(_.memoryUsedBytes).sum))
    }
  }
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.runId)

  /** The batches of `runId`, once its termination event has arrived. */
  def await(runId: java.util.UUID): Seq[Batch] = {
    val deadline = System.currentTimeMillis() + 10000L
    while (!terminated.contains(runId) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    Option(batches.get(runId)).map(_.asScala.toSeq).getOrElse(Nil)
  }
}
