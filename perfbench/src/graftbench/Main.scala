package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-independent digest of a frame: row count and the decimal sum
  * of a per-row xxhash64 (floating columns rounded to 6 decimals, so
  * summation-order ulps cannot flip it). Computing it reads every
  * column of every row, so it is also what materializes an op. */
object Digest {
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name.replace("`", "``")}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(0)}"
  }
  def rows(d: String): Long = d.takeWhile(_ != ':').toLong
}

/** Counts MLlib fits from outside: every fit MLlib instruments logs
  * through one logger, each line prefixed with the fit's `[uid]`, and the
  * first line of a fit is "Stage class: <estimator>". A fit's time is
  * its first to its last logged line. */
final class FitCounter {
  private val spans = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private val name = "org.apache.spark.ml.util.Instrumentation"

  def fits: Long = spans.size.toLong
  def fitMs: Long = spans.values.asScala.map { case (a, b) => b - a }.sum

  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("graftbench-fits", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        val uid = m.takeWhile(_ != ' ')
        val t = e.getTimeMillis
        if (m.contains("] Stage class: ")) spans.put(uid, (t, t))
        else spans.computeIfPresent(uid, (_, v) => (v._1, t))
      }
    }
    app.start()
    val cfg = ctx.getConfiguration
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }
}

/** The benchmark JVM: set up a session, run one workload's ops in a
  * closed loop on one thread, check every output, and write the raw
  * measurements as JSON for perfbench/run.py to summarize.
  *
  *   --workload W --data DIR --work DIR --seconds S --trace 0|1
  *   --out FILE --rows table=n,... [--pins op=digest,...]
  *   [--dump dataDir=dumpDir,...]
  */
object Main {
  final case class OpResult(digest: Option[String], seconds: Double,
      error: Option[String], leaked: Int, confChanged: Int,
      blockRdds: Int, blockBytes: Long)
  /** One pass over the ops, with the micro-batches and stream runs
    * (query wall s, Σ batch ms) its streams made. */
  final case class Pass(seconds: Double, ops: Seq[OpResult],
      batches: Seq[StreamListener#Batch], runs: Seq[(Double, Long)])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    a.get("archive-run").foreach { work => archiveRun(work); return }
    val workload = a("workload")
    val ops = Workloads.all(workload)
    val data = a("data")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val pins = a.get("pins").filter(_.nonEmpty).map(_.split(",").map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v }.toMap).getOrElse(Map.empty)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1fs $what")
    val fits = new FitCounter
    if (workload == "features_ml") fits.install()

    // ---- set-up, timed from JVM start
    val (spark, streams) = setUp(workload, data, work, cores)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    phase("set-up done")
    val sc = spark.sparkContext
    val ctx = new Ctx(spark, data, work, streams)
    a.get("dump").foreach { pairs =>
      pairs.split(",").map(_.split("=", 2)).foreach { case Array(d, out) =>
        dump(new Ctx(spark, d, work, streams), ops, out) }
      spark.stop()
      return
    }
    val tableRows = a("rows").split(",").map { kv =>
      val Array(k, v) = kv.split("="); k -> v.toLong }.toMap
    val inputRows = ops.map(_.inputs.map(tableRows).sum).sum

    // ---- one op: its time runs from the call to its digest; the
    // hygiene counters and the invariants are read after that
    val listener = new JobListener
    def runOp(op: Op, check: Boolean): OpResult = {
      val persBefore = sc.getPersistentRDDs.keySet
      val confBefore = spark.conf.getAll
      listener.blockRdds.clear(); listener.blockBytes.set(0L)
      var df: DataFrame = null
      val t0 = System.nanoTime()
      val (digest, err) = try {
        (Some(ctx.span("entry", op.name)(ctx.span(op.layer, op.name) {
          df = op.run(ctx)
          Digest.of(df)
        })), None)
      } catch { case e: Throwable => (None, Some(describe(e))) }
      val secs = (System.nanoTime() - t0) / 1e9
      val leaked = (sc.getPersistentRDDs.keySet -- persBefore).size
      val confAfter = spark.conf.getAll
      val changed = (confBefore.keySet ++ confAfter.keySet)
        .filter(k => confBefore.get(k) != confAfter.get(k))
      changed.foreach(k => confBefore.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      })
      val failed = err.orElse(if (!check || df == null) None else
        try op.checks.flatMap(_(ctx, df)).headOption.map("check failed: " + _)
        catch { case e: Throwable => Some(describe(e)) })
      // after the checks: they may read the op's checkpointed blocks
      (sc.getPersistentRDDs.keySet -- persBefore).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
      ctx.cleanup()
      System.err.println(f"[perfbench] ${op.name}%s ${secs}%.2fs" +
        failed.map(" FAILED: " + _).getOrElse(""))
      OpResult(digest, secs, failed, leaked, changed.size,
        listener.blockRdds.size, listener.blockBytes.get)
    }
    // a pass's time is the sum of its ops' times
    def pass(check: Boolean = false): Pass = {
      System.gc() // a collection left over from the last pass must not land in this one
      val (b0, r0) = (ctx.batches.size, ctx.streamRuns.size)
      val rs = ops.map(op => runOp(op, check))
      Pass(rs.map(_.seconds).sum, rs, ctx.batches.drop(b0).toSeq,
        ctx.streamRuns.drop(r0).toSeq)
    }

    // ---- first pass (checks run here); one untimed pass, because the JIT
    // is still warming up and the pass after the first is slower than the
    // ones after it and varies more; then the timed passes: at least three,
    // more while the next (as long as the last) fits in `seconds`. The
    // traced run instead brackets one traced pass with two untraced ones,
    // so the tracing overhead compares identical, equally warm work.
    val first = pass(check = true)
    phase("first pass done")
    val warm = pass()
    val untraced = mutable.ArrayBuffer.empty[Pass]
    val tracer = new Tracer(sc)
    var tracedPass: Option[Pass] = None
    var (nFits, fitMs) = (0L, 0L)
    if (!traced) {
      val start = System.nanoTime()
      var last = 0.0
      while (untraced.size < 3 || (System.nanoTime() - start) / 1e9 + last <= seconds) {
        val t0 = System.nanoTime()
        untraced += pass()
        last = (System.nanoTime() - t0) / 1e9
      }
    } else {
      untraced += pass()
      sc.addSparkListener(listener)
      ctx.tracer = Some(tracer)
      val (f0, ms0) = (fits.fits, fits.fitMs)
      tracedPass = Some(pass())
      nFits = fits.fits - f0; fitMs = fits.fitMs - ms0
      ctx.tracer = None
      listener.drain(sc)
      sc.removeSparkListener(listener)
      untraced += pass()
    }

    // ---- correctness: pins, else identical digests across passes
    val allPasses = (Seq(first, warm) ++ untraced ++ tracedPass).map(_.ops)
    val failures = ops.indices.flatMap { i =>
      val name = ops(i).name
      val ds = allPasses.map(_(i))
      val errs = ds.flatMap(_.error).distinct
      val digests = ds.flatMap(_.digest).distinct
      val why =
        if (errs.nonEmpty) Some(errs.head)
        else if (digests.size != 1) Some(s"digest differs across passes: $digests")
        else if (Digest.rows(digests.head) == 0) Some("empty output")
        else pins.get(name).filter(_ != digests.head)
          .map(p => s"digest ${digests.head} != pinned $p")
      why.map(name -> _)
    }
    failures.foreach { case (n, w) => System.err.println(s"[perfbench] $n FAILED: $w") }

    // ---- raw output
    val out = mutable.Map[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS,
      "first_pass_s" -> first.seconds,
      "passes_s" -> untraced.map(_.seconds).toSeq,
      "traced_pass_s" -> tracedPass.map(_.seconds),
      "input_rows" -> inputRows,
      "attempted" -> ops.size,
      "failed" -> failures.size,
      "failures" -> failures.toMap,
      "digests" -> ops.indices.map(i => ops(i).name ->
        first.ops(i).digest.getOrElse("")).toMap,
      "op_s" -> ops.indices.map(i => ops(i).name ->
        (first +: untraced.toSeq).map(_.ops(i).seconds)).toMap,
      "peak_rss_mb" -> peakRssMb(),
      "batch_ms" -> untraced.flatMap(_.batches.map(_.ms)).toSeq)
    tracedPass.foreach { t =>
      out("layers") = layerMetrics(tracer, listener, nFits, fitMs, t)
      out("sites") = listener.bySite.asScala.map { case (k, s) => k -> Map(
        "execs" -> s.execs, "wall_s" -> s.wallMs / 1000.0,
        "busy_s" -> s.busyMs / 1000.0) }.toMap
      out("selfcheck") = selfCheck(tracer, listener)
    }
    Files.write(Paths.get(a("out")), json(out.toMap).getBytes("UTF-8"))
    phase("passes done")
    spark.stop()
    phase("stopped")
  }

  def json(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  /** The class-loading run a build ends with (see perfbench/run.py): a
    * set-up plus a parquet round trip and a short stream, so the JVM's
    * class-data archive holds the classes every workload starts with. */
  def archiveRun(work: String): Unit = {
    val (spark, _) = setUp("archive", s"$work/none", work, 2)
    spark.range(1000).write.parquet(s"$work/t")
    spark.read.parquet(s"$work/t").groupBy(col("id") % 7).count().collect()
    spark.readStream.schema(spark.read.parquet(s"$work/t").schema)
      .parquet(s"$work/t").writeStream.format("parquet")
      .option("checkpointLocation", s"$work/chk").option("path", s"$work/out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
    spark.stop()
  }

  /** Pinning support: write each op's output over one data dir and its
    * digest, and the DuckDB oracle SQL of the registry rows, under `dir`
    * (see perfbench/pin.py). */
  def dump(ctx: Ctx, ops: Seq[Op], dir: String): Unit = {
    val digests = ops.map { op =>
      val df = op.run(ctx).persist()
      df.write.mode("overwrite").parquet(s"$dir/${op.name}")
      val d = Digest.of(df)
      df.unpersist()
      ctx.cleanup()
      op.name -> d
    }.toMap
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) =>
      ops.exists(_.name == k) }
    Files.write(Paths.get(s"$dir/oracle_sql.json"), json(oracle).getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/digests.json"), json(digests).getBytes("UTF-8"))
  }

  def setUp(workload: String, data: String, work: String, cores: Int)
      : (SparkSession, StreamListener) = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val streams = new StreamListener
    spark.streams.addListener(streams)
    // warm-up: the first job's class loading and codegen set-up; what a
    // workload's own plans and fits load stays in first_pass_s
    spark.range(100000).selectExpr("sum(id)").collect()
    // register the inputs: one view per generated table (footer read)
    Option(new java.io.File(data).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => spark.read.parquet(f.getPath)
        .createOrReplaceTempView(f.getName.stripSuffix(".parquet")))
    (spark, streams)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** The self-check: every job the listener saw while the first op's
    * root span was open carries a span of that op's trace. */
  def selfCheck(t: Tracer, l: JobListener): Map[String, Any] = {
    val root = t.spans.find(_.parent == 0L).get
    val traceSpans = t.spans.filter(_.trace == root.id).map(_.id).toSet
    val tagged = l.bySpan.asScala.collect {
      case (s, c) if traceSpans(s) => c.jobs }.sum
    val seen = l.jobStarts.asScala.count(ms =>
      ms >= root.startMs && ms <= root.endMs)
    Map("op" -> root.name, "listener_jobs" -> seen, "tagged_jobs" -> tagged,
      "ok" -> (seen == tagged))
  }

  /** The per-layer metrics of the traced pass. */
  def layerMetrics(t: Tracer, l: JobListener, nFits: Long, fitMs: Long,
      p: Pass): Map[String, Double] = {
    val (bs, rs) = (p.batches, p.ops)
    val m = mutable.Map.empty[String, Double]
    def c(s: Span) = Option(l.bySpan.get(s.id)).getOrElse(new Counters)
    def of(layer: String) = t.spans.filter(_.layer == layer).toSeq
    for (layer <- Workloads.Layers) {
      val ss = of(layer); val cs = ss.map(c)
      m(s"$layer.jobs") = cs.map(_.jobs).sum
      m(s"$layer.stages") = cs.map(_.stages).sum
      m(s"$layer.tasks") = cs.map(_.tasks).sum
      m(s"$layer.busy_s") = cs.map(_.busyMs).sum / 1000.0
      m(s"$layer.wait_s") = cs.map(_.waitMs).sum / 1000.0
      m(s"$layer.gc_s") = cs.map(_.gcMs).sum / 1000.0
      m(s"$layer.self_s") = ss.map(t.selfSeconds).sum
    }
    // every job is counted once, on its innermost span
    val all = t.spans.toSeq.map(c)
    m("sources.scan_s") = all.map(_.scanBusyMs).sum / 1000.0
    m("sources.input_bytes") = all.map(_.inputBytes).sum
    m("sources.scan_tasks") = all.map(_.scanTasks).sum
    val dd = of("llm.dedup").map(c)
    m("llm.dedup.edges_s") = Option(l.bySite.get("Dedup.minhashStarFirstEdges"))
      .map(_.wallMs).getOrElse(0L) / 1000.0
    m("llm.dedup.candidate_pairs") = l.candidates.get
    m("llm.dedup.verified_pairs") = l.verified.get
    m("llm.dedup.verify_yield") =
      if (l.candidates.get == 0) 0.0
      else l.verified.get.toDouble / l.candidates.get
    m("llm.dedup.shuffle_bytes") = dd.map(_.shuffleWriteBytes).sum
    m("llm.dedup.spill_bytes") = dd.map(_.spillBytes).sum
    // the CC loops are llm.dedup code whichever op calls them; each
    // round is one count() action
    m("llm.dedup.cc_rounds") = l.cc.counts
    m("llm.dedup.cc_s") = l.cc.wallMs / 1000.0
    val mm = of("llm.multimodal")
    m("llm.multimodal.s") = mm.map(_.seconds).sum
    m("llm.multimodal.shuffle_bytes") = mm.map(c(_).shuffleWriteBytes).sum
    val tx = of("llm.text")
    m("llm.text.append_s") =
      tx.filter(_.name == "text_bm25_append").map(_.seconds).sum
    m("llm.text.write_bytes") = tx.map(c(_).writeBytes).sum
    m("llm.text.files_written") = tx.map(c(_).writeTasks).sum
    m("features.fit_s") = fitMs / 1000.0
    m("features.fits") = nFits
    m("features.percentile_s") =
      of("features").filter(_.name == "robust_scaling").map(_.seconds).sum
    m("streaming.batches") = bs.size
    m("streaming.batch_busy_ms") = bs.map(_.ms).sum
    m("streaming.lifecycle_s") = p.runs.map(r => r._1 - r._2 / 1000.0).sum
    m("streaming.state_rows") = bs.map(_.stateRows).sum
    m("streaming.state_commit_ms") = bs.map(_.commitMs).sum
    m("streaming.state_memory_bytes") =
      if (bs.isEmpty) 0.0 else bs.map(_.stateMem).max.toDouble
    m("streaming.sink_write_s") = bs.map(_.sinkMs).sum / 1000.0
    m("materialize.count") = rs.map(_.blockRdds).sum
    m("materialize.bytes") = rs.map(_.blockBytes).sum
    m("materialize.leaked") = rs.map(_.leaked).sum
    m("entry.conf_changed") = rs.map(_.confChanged).sum
    m("trace.untagged_jobs") = l.untagged.jobs
    m.toMap
  }
}

