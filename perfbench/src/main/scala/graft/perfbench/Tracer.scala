package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. Times are epoch microseconds;
  * `parent` 0 marks an operation's root span. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startUs: Long, endUs: Long)

/** Counters of one traced operation, filled by the harness and by
  * Spark's listener callbacks. */
final class OpCounters(val op: Long, val kind: String, val name: String) {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start, end) epoch ms
  val jobStart = mutable.Map.empty[Int, Long]
  val stages = mutable.ArrayBuffer.empty[(Long, Boolean, Seq[Long])] // (ms, writesShuffle, task ms)
  val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var streamStartMs = 0L
  var lastBatchEndMs = 0L
  var startMs = 0L
  var endMs = 0L
  def add(k: String, v: Double): Unit = c(k) += v
}

/** Records spans around the benchmark's calls into each layer, plus the
  * counters Spark's public listener APIs expose, for traced operations
  * only. Spans stay in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val epochBaseUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  private var stack: List[Long] = Nil
  private var nextSpan = 1L
  private var opId = 0L
  private val done = mutable.ArrayBuffer.empty[OpCounters]
  @volatile private var current: OpCounters = _
  private val reregistrations = new java.util.concurrent.atomic.AtomicLong()

  private def nowUs(): Long = epochBaseUs + System.nanoTime() / 1000

  /** Times `body` as span `name` when the current operation is traced. */
  def span[T](name: String)(body: => T): T =
    if (current == null) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = nowUs()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, opId, name, t0, nowUs())
      }
    }

  /** Adds `v` to counter `k` of the current traced operation. */
  def count(k: String, v: Double = 1.0): Unit = {
    val cur = current
    if (cur != null) cur.add(k, v)
  }

  /** Runs one operation: timed, then checked; failures are caught. */
  def operation(op: Op, traced: Boolean): Sample = {
    opId += 1
    val cur = if (traced) new OpCounters(opId, op.kind, op.name) else null
    val mr0 = graft.sources.SnapshotTable.manifestReads.get()
    val cg0 = codegenCount()
    val ct0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val rr0 = reregistrations.get()
    current = cur
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    var ok = true
    try span("op." + op.kind)(op.run())
    catch {
      case e: Throwable =>
        ok = false
        System.err.println(s"[perfbench] ${op.name} failed: $e")
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] op ${op.name} $seconds%.3f s")
    val endMs = System.currentTimeMillis()
    if (cur != null) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      cur.add("snapshot.manifest_reads",
        (graft.sources.SnapshotTable.manifestReads.get() - mr0).toDouble)
      cur.add("codegen.compiles", (codegenCount() - cg0).toDouble)
      cur.add("codegen.compile_ms",
        (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - ct0) / 1e6)
      cur.add("catalyst.function_reregistrations", (reregistrations.get() - rr0).toDouble)
      cur.add("driver.gap_ms", (endMs - startMs) - unionMs(cur.jobs.toSeq, startMs, endMs))
      cur.startMs = startMs
      cur.endMs = endMs
      if (cur.lastBatchEndMs > 0) cur.add("stream.stop_ms",
        math.max(0L, endMs - cur.lastBatchEndMs).toDouble)
      done += cur
      current = null
    }
    if (ok) {
      ok = try op.check() catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} check failed: $e"); false
      }
      if (!ok) System.err.println(s"[perfbench] ${op.name}: wrong output")
    }
    graft.CacheRegistry.clear(spark)
    Sample(op.kind, op.name, seconds, ok, traced)
  }

  /** Counters of every traced operation so far, oldest first. */
  def traces: Seq[OpCounters] = done.toSeq

  private def codegenCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // ---- host noise: steal time and a sleeper thread's lateness ----------
  @volatile private var oversleepUs = 0L
  private var steal0 = 0L
  def resetHost(): Unit = {
    steal0 = stealMs()
    oversleepUs = 0L
  }
  if (enabled) {
    val sleeper = new Thread(() => {
      while (true) {
        val t0 = System.nanoTime()
        Thread.sleep(10)
        val late = (System.nanoTime() - t0) / 1000 - 10000
        if (late > 1000) oversleepUs += late
      }
    }, "perfbench-sleeper")
    sleeper.setDaemon(true)
    sleeper.start()
  }

  // ---- listeners, attached only in the traced run ----------------------
  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val cur = current
        if (cur != null) {
          cur.jobStart(e.jobId) = e.time
          cur.add("spark.jobs", 1)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val cur = current
        if (cur != null) cur.jobStart.remove(e.jobId).foreach(s => cur.jobs += ((s, e.time)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val cur = current
        val m = e.taskMetrics
        if (cur != null && m != null) {
          cur.add("spark.tasks", 1)
          cur.add("spark.task_ms", m.executorRunTime.toDouble)
          cur.add("spark.cpu_ms", m.executorCpuTime / 1e6)
          cur.add("spark.gc_ms", m.jvmGCTime.toDouble)
          cur.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          cur.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          cur.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          cur.add("spark.records_read", m.inputMetrics.recordsRead.toDouble)
          cur.add("spark.bytes_written", m.outputMetrics.bytesWritten.toDouble)
          cur.add("spark.records_written", m.outputMetrics.recordsWritten.toDouble)
          cur.stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
            mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val cur = current
        val si = e.stageInfo
        if (cur != null) {
          val ms = for (a <- si.submissionTime; b <- si.completionTime) yield b - a
          val writes = si.taskMetrics != null && si.taskMetrics.shuffleWriteMetrics.bytesWritten > 0
          cur.stages += ((ms.getOrElse(0L), writes,
            cur.stageTasks.getOrElse((si.stageId, si.attemptNumber()), Nil).toSeq))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val cur = current
        if (cur != null) qe.tracker.phases.foreach { case (phase, s) =>
          if (phase == "analysis" || phase == "optimization" || phase == "planning")
            cur.add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
        }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      private def ms(iso: String) = java.time.Instant.parse(iso).toEpochMilli
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        val cur = current
        if (cur != null) cur.streamStartMs = ms(e.timestamp)
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val cur = current
        val p = e.progress
        if (cur != null) {
          val d = p.durationMs
          def dur(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
          val trigger = ms(p.timestamp)
          if (cur.streamStartMs > 0) {
            cur.add("stream.start_ms", math.max(0L, trigger - cur.streamStartMs).toDouble)
            cur.streamStartMs = 0L
          }
          cur.add("stream.batches", 1)
          cur.add("stream.batch_ms", dur("triggerExecution"))
          cur.add("stream.planning_ms", dur("queryPlanning"))
          cur.add("stream.walcommit_ms", dur("walCommit"))
          p.stateOperators.foreach { so =>
            cur.add("stream.state_commit_ms", so.commitTimeMs.toDouble)
            cur.c("stream.state_rows_last") = so.numRowsTotal.toDouble
            cur.c("stream.state_memory_last") = so.memoryUsedBytes.toDouble
          }
          cur.lastBatchEndMs = trigger + dur("triggerExecution").toLong
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        val cur = current
        if (cur != null) {
          cur.add("stream.state_rows", cur.c("stream.state_rows_last"))
          cur.add("stream.state_memory_bytes", cur.c("stream.state_memory_last"))
          cur.c("stream.state_rows_last") = 0
          cur.c("stream.state_memory_last") = 0
        }
      }
    })
    ReregistrationCounter.install(reregistrations)
  }

  // ---- output ----------------------------------------------------------

  /** Writes every span as one JSON line; Spark jobs are added as spans
    * named `spark.job` under their operation. */
  def writeSpans(path: Path): Unit = {
    val sb = new StringBuilder
    def line(s: Span): Unit = sb.append(
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", "start_us": ${s.startUs}, "end_us": ${s.endUs}}""").append('\n')
    spans.foreach(line)
    val roots = spans.filter(_.parent == 0).map(s => s.op -> s.id).toMap
    var id = nextSpan
    done.foreach { c =>
      c.jobs.foreach { case (a, b) =>
        line(Span(id, roots.getOrElse(c.op, 0L), c.op, "spark.job", a * 1000, b * 1000))
        id += 1
      }
    }
    Files.write(path, sb.toString.getBytes("UTF-8"))
    System.err.println(s"[perfbench] ${spans.size} spans written to $path")
  }

  /** Per-layer metrics of the traced operations, averaged per traced
    * operation unless the name says otherwise (see README.md). */
  def layerMetrics(samples: Seq[Sample]): Map[String, Double] = {
    val n = math.max(1, done.size).toDouble
    def sum(k: String) = done.map(_.c(k)).sum
    val perOp = Seq(
      "spark.jobs", "spark.tasks", "spark.task_ms", "spark.cpu_ms", "spark.gc_ms",
      "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
      "driver.gap_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
      "catalyst.planning_ms", "catalyst.function_reregistrations", "codegen.compiles",
      "codegen.compile_ms", "snapshot.manifest_reads",
      "stream.start_ms", "stream.stop_ms", "stream.batches", "stream.batch_ms",
      "stream.planning_ms", "stream.walcommit_ms", "stream.state_commit_ms",
      "stream.state_rows", "stream.state_memory_bytes").map(k => k -> sum(k) / n)

    // job-server waits: submit end -> first job start, last job end -> done
    val byOp = spans.groupBy(_.op)
    val eager = mutable.ArrayBuffer.empty[Double]
    val queueWait = mutable.ArrayBuffer.empty[Double]
    val commit = mutable.ArrayBuffer.empty[Double]
    done.foreach { c =>
      val os = byOp.getOrElse(c.op, Nil)
      eager += os.filter(_.name == "operators.build").map { b =>
        c.jobs.count { case (a, _) => a * 1000 >= b.startUs - 1000 && a * 1000 <= b.endUs }
      }.sum.toDouble
      os.find(_.name == "jobserver.submit").foreach { sub =>
        if (c.jobs.nonEmpty) {
          queueWait += c.jobs.map(_._1).min - sub.endUs / 1000.0
          commit += c.endMs - c.jobs.map(_._2).max
        }
      }
    }

    // self time per layer: span duration minus its child spans
    val children = spans.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => k.endUs - k.startUs).sum
      self(layerOf(s.name)) += (s.endUs - s.startUs - kids) / 1000.0
    }
    val selfMetrics = Layers.map(l => s"self.${l}_ms" -> self(l) / n)

    def spanMs(name: String): Seq[Double] =
      spans.filter(_.name == name).map(s => (s.endUs - s.startUs) / 1000.0).toSeq
    def meanOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val stages = done.flatMap(_.stages)
    val jobStages = done.filter(_.kind == "job").flatMap(_.stages)
    val skews = stages.collect { case (_, _, t) if t.size >= 2 =>
      t.max.toDouble / math.max(1.0, Stats.median(t.map(_.toDouble))) }
    val spanMetrics = Seq(
      "jobserver.submit_ms" -> meanOr0(spanMs("jobserver.submit")),
      "jobserver.queue_wait_ms" -> meanOr0(queueWait.toSeq),
      "mapreduce.commit_ms" -> meanOr0(commit.toSeq),
      "operators.eager_jobs" -> eager.sum / n,
      "mapreduce.map_stage_ms" -> jobStages.collect { case (ms, true, _) => ms.toDouble }.sum / n,
      "mapreduce.reduce_stage_ms" -> jobStages.collect { case (ms, false, _) => ms.toDouble }.sum / n,
      "operators.build_ms" -> meanOr0(spanMs("operators.build")),
      "snapshot.versions_ms" -> meanOr0(spanMs("snapshot.versions")),
      "snapshot.plan_ms" -> meanOr0(spanMs("snapshot.plan")),
      "snapshot.exec_ms" -> meanOr0(spanMs("sql.scan")),
      "spark.task_skew" -> meanOr0(skews.toSeq))

    // tracing overhead: untraced vs traced medians of the same names
    val ratios = samples.filter(_.ok).groupBy(_.name).values.flatMap { g =>
      val (t, u) = g.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds)))
    }.toSeq
    val overhead = if (ratios.isEmpty) 0.0 else (Stats.geomean(ratios) - 1) * 100

    val written = sum("spark.records_written")
    val host = Seq(
      "spark.bytes_written_per_row" -> (if (written == 0) 0.0 else sum("spark.bytes_written") / written),
      "host.steal_ms" -> (stealMs() - steal0).toDouble,
      "host.oversleep_ms" -> oversleepUs / 1000.0,
      "trace.overhead_pct" -> overhead)
    (perOp ++ selfMetrics ++ spanMetrics ++ host).toMap
  }

  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var covered = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered.toDouble
  }
}

object Tracer {
  /** Every per-layer metric, in output order; BENCHMARK.json lists the same. */
  val PerLayer: Seq[String] = Seq(
    "jobserver.submit_ms", "jobserver.queue_wait_ms", "mapreduce.map_stage_ms",
    "mapreduce.reduce_stage_ms", "mapreduce.commit_ms",
    "snapshot.manifest_reads", "snapshot.versions_ms", "snapshot.plan_ms", "snapshot.exec_ms",
    "snapshot.files_live", "snapshot.scan_rows_read_per_returned", "snapshot.commit_jobs_flat",
    "snapshot.commit_jobs_part", "snapshot.bytes_per_live_row",
    "table.append_p50_ms", "table.merge_p50_ms", "table.delete_p50_ms", "table.scan_p50_ms",
    "table.meta_p50_ms", "table.changes_p50_ms", "table.maintain_p50_ms",
    "stream.start_ms", "stream.stop_ms", "stream.batches", "stream.batch_ms",
    "stream.planning_ms", "stream.walcommit_ms", "stream.state_commit_ms", "stream.state_rows",
    "stream.state_memory_bytes",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.function_reregistrations", "codegen.compiles", "codegen.compile_ms",
    "operators.build_ms", "operators.eager_jobs",
    "spark.jobs", "spark.tasks", "spark.task_ms", "spark.cpu_ms", "spark.gc_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.task_skew", "spark.bytes_written_per_row", "driver.gap_ms",
    "self.op_ms", "self.jobserver_ms", "self.mapreduce_ms", "self.snapshot_ms",
    "self.operators_ms", "self.stream_ms", "self.sql_ms",
    "host.steal_ms", "host.oversleep_ms", "trace.overhead_pct")

  /** Layers that own spans: a span's layer is its name up to the first dot. */
  val Layers = Seq("op", "jobserver", "mapreduce", "snapshot", "operators", "stream", "sql")

  def layerOf(span: String): String = span.takeWhile(_ != '.')

  def unitOf(metric: String): String =
    if (metric.endsWith("_ms")) "ms"
    else if (metric.endsWith("_bytes")) "bytes"
    else if (metric.endsWith("_pct")) "%"
    else if (metric.endsWith("_row")) "bytes/row"
    else if (metric.endsWith("_skew") || metric.endsWith("_per_returned")) "ratio"
    else "count"

  /** Steal time of the whole host from /proc/stat, in ms (0 when absent). */
  def stealMs(): Long =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = f.getLines().next().trim.split("\\s+")
        if (cpu.length > 8) cpu(8).toLong * 10 else 0L
      } finally f.close()
    } catch { case _: Exception => 0L }
}

/** Counts the function registry's "replaced a previously registered
  * function" warnings through a log4j appender on the root logger. */
object ReregistrationCounter {
  def install(counter: java.util.concurrent.atomic.AtomicLong): Unit = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LoggerContext.getContext(false)
    val app = new AbstractAppender("perfbench-reregistrations", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
          counter.incrementAndGet()
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
  }
}
