package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One timed operation of a workload: `run` is measured, `check` runs
  * untimed afterwards and returns false when the output is wrong.
  * `name` groups operations for per-name medians (the query name for
  * queries, the operation kind elsewhere). */
final case class Op(kind: String, name: String, run: () => Unit,
    check: () => Boolean = () => true)

/** A closed-loop workload: one client, each operation starts after the
  * previous one finished. `setup` builds the inputs into `dir` (called
  * several times, each into a fresh directory; the last one is used). */
trait Workload {
  def setup(dir: Path): Unit
  /** How often `setup` runs; the median is reported. */
  def setupRepeats: Int = 3
  /** Untimed work after the first runs (warm-up); returns (attempted,
    * failed) for the correctness checks it makes. */
  def warmup(): (Int, Int) = (0, 0)
  /** The seeded operation stream. Its first block, up to the first
    * boundary, holds the first run of every operation name. */
  def next(): Op
  /** True when the run may stop at this point (the end of a block). */
  def atBoundary: Boolean = true
  /** Per-layer metrics only this workload can compute, from the traced
    * run's operations; the others report them as 0. */
  def layerMetrics(samples: Seq[Sample]): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints one JSON object as the last stdout line (see README.md). With
  * `--cold-only 1` it stops after the first runs and prints only its
  * set-up time and first-run times, which run.py hands to the next JVM
  * as `--prior-*` arguments. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String): Seq[Double] =
      args.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map(_.toDouble)
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val expected = Paths.get(args.getOrElse("expected", "perfbench/expected.tsv")).toAbsolutePath
    val record = args.getOrElse("record", "0") == "1"
    val corpus = Paths.get(args.getOrElse("corpus", ".")).toAbsolutePath
    // set-up done before the JVM started (the corpus), median of its repeats
    val preSetupS = args.getOrElse("pre-setup-s", "0").toDouble
    val coldOnly = args.getOrElse("cold-only", "0") == "1"
    Files.createDirectories(work)

    val spark = Session.create(work)
    val sessionReadyS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark, trace)
    val wl: Workload = workload match {
      case "mr_jobs" => new MrJobs(spark, seed, tracer)
      case "lakehouse" => new Lakehouse(spark, seed, tracer, corpus, expected, record, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up is repeated and its median reported, so one slow file
    // system call does not decide the figure.
    val setupTimes = (1 to wl.setupRepeats).map { i =>
      val d = work.resolve(s"setup-$i")
      Session.deleteRecursively(d)
      Files.createDirectories(d)
      val t0 = System.nanoTime()
      wl.setup(d)
      val t = (System.nanoTime() - t0) / 1e9
      if (i < wl.setupRepeats) Session.deleteRecursively(d)
      t
    }
    val setupS = sessionReadyS + preSetupS + Stats.median(setupTimes)
    System.err.println(f"[perfbench] session ready after $sessionReadyS%.2f s; set-up runs ${setupTimes.map(t => f"$t%.2f").mkString(", ")} s")

    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    var failed = 0
    var attempted = 0
    def exec(op: Op, traced: Boolean): Sample = {
      attempted += 1
      val s = tracer.operation(op, traced)
      if (!s.ok) failed += 1
      s
    }

    // First runs: the first block of the stream, untraced. The first
    // operation of each name is its first run on this session; the
    // repeats inside the block only warm up.
    val firstRuns = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    while ({
      val s = exec(wl.next(), traced = false)
      if (!firstRuns.contains(s.name)) firstRuns(s.name) = s.seconds
      !wl.atBoundary
    }) ()
    if (coldOnly) {
      val runs = firstRuns.map { case (k, v) => s""""$k": ${Stats.num(v)}""" }.mkString(", ")
      println(s"""{"setup_s": ${Stats.num(setupS)}, "first_runs": {$runs}, "attempted": $attempted, "failed": $failed}""")
      System.out.flush()
      wl.close()
      spark.stop()
      sys.exit(0)
    }
    val (wa, wf) = wl.warmup()
    attempted += wa + args.getOrElse("prior-attempted", "0").toInt
    failed += wf + args.getOrElse("prior-failed", "0").toInt
    tracer.resetHost()
    var busy = 0.0
    val hardStop = System.nanoTime() + (4 * seconds + 30).toLong * 1000000000L
    // In the traced run every other operation of each name runs untraced,
    // so every name is traced and the run measures its own overhead.
    val runsOf = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    while ((busy < seconds || !wl.atBoundary) && System.nanoTime() < hardStop) {
      val op = wl.next()
      val s = exec(op, traced = trace && runsOf(op.name) % 2 == 0)
      runsOf(op.name) += 1
      samples += s
      busy += s.seconds
    }

    // every fresh session of the run: the earlier cold-only JVMs and this one
    val firstAll = args.get("prior-first-runs").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split("="); k -> v.toDouble } ++ firstRuns
    val setupAll = list("prior-setup-s") :+ setupS
    System.err.println(f"[perfbench] first runs ${firstAll.map(t => f"${t._1} ${t._2}%.2f").mkString(", ")} s; ${samples.size} ops in $busy%.2f s")
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val okLat = samples.filter(_.ok).map(_.seconds).toSeq
        // a run whose every operation failed still reports its times
        val lat = if (okLat.nonEmpty) okLat else samples.map(_.seconds).toSeq
        val (tailPct, tail, beyond) = Stats.tail(lat)
        System.err.println(f"[perfbench] latency_tail_s is p$tailPct%.1f over ${lat.size} samples ($beyond beyond it)")
        Seq(
          ("setup_s", Stats.median(setupAll), "s"),
          ("first_op_s", Stats.geomean(firstAll.groupBy(_._1).values
            .map(g => Stats.median(g.map(_._2))).toSeq), "s"),
          ("ops_per_s", samples.size / busy, "1/s"),
          ("latency_p50_s", Stats.median(lat), "s"),
          ("latency_tail_s", tail, "s"),
          ("suite_geomean_s", Stats.geomean(samples.filter(s => s.ok || okLat.isEmpty)
            .groupBy(_.name).values.map(g => Stats.median(g.map(_.seconds).toSeq)).toSeq), "s"),
          ("peak_rss_mb", Session.peakRssMb(), "MB"))
      } else {
        tracer.writeSpans(work.resolve(s"trace-$workload-seed$seed.jsonl"))
        val got = tracer.layerMetrics(samples.toSeq) ++ wl.layerMetrics(samples.toSeq)
        Tracer.PerLayer.map(k => (k, got.getOrElse(k, 0.0), Tracer.unitOf(k)))
      }
    wl.close()
    spark.stop()
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    // Spark and the job server may leave non-daemon threads behind.
    sys.exit(0)
  }
}

/** One timed operation: its kind, the name it is grouped under for
  * per-name medians, and whether its check passed. */
final case class Sample(kind: String, name: String, seconds: Double, ok: Boolean, traced: Boolean)
