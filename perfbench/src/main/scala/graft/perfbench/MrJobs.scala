package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.mapreduce.JobServer

/** Reference-format word-count jobs sent over TCP to an in-process
  * [[JobServer]]: 4 mappers, a fixed reducer count, shell `wc_map` /
  * `wc_reduce` pipes, over a Zipf-distributed corpus made from the seed.
  * A job counts as done when the server's completed-job count moves; a
  * job whose output does not appear within [[JobTimeoutMs]] is failed. */
final class MrJobs(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import MrJobs._

  private var server: JobServer = _
  private var port = 0
  private var dir: Path = _
  private var expected: Map[String, Long] = Map.empty
  private var jobs = 0

  /** run.py starts three sessions a run; setup_s is their median. */
  override def setupRepeats: Int = 1

  def setup(d: Path): Unit = {
    if (server != null) server.forceStop()
    dir = d
    val in = Files.createDirectories(d.resolve("input"))
    expected = writeCorpus(in, seed, CorpusBytes)
    val bin = Files.createDirectories(d.resolve("bin"))
    script(bin.resolve("wc_map.sh"), """tr -s ' ' '\n' | sed '/^$/d' | awk '{print $0 "\t1"}'""")
    script(bin.resolve("wc_reduce.sh"),
      """awk -F '\t' '$1 != prev { if (n > 0) print prev "\t" c; prev = $1; c = 0 } { c += $2; n += 1 } END { if (n > 0) print prev "\t" c }'""")
    server = new JobServer(spark)
    port = server.start()
  }

  private def script(p: Path, body: String): Unit = {
    Files.write(p, s"#!/bin/sh\n$body\n".getBytes(UTF_8))
    p.toFile.setExecutable(true)
  }

  private def job(): Op = {
    jobs += 1
    val out = dir.resolve(f"out/job$jobs%05d")
    val msg =
      s"""{"message_type": "new_master_job", "input_directory": "${dir.resolve("input")}",
         | "output_directory": "$out", "mapper_executable": "${dir.resolve("bin/wc_map.sh")}",
         | "reducer_executable": "${dir.resolve("bin/wc_reduce.sh")}",
         | "num_mappers": $Mappers, "num_reducers": $Reducers}""".stripMargin
    Op("job", "job", () => {
      val before = server.completedJobs
      tr.span("jobserver.submit") {
        val sock = new java.net.Socket(java.net.InetAddress.getLoopbackAddress, port)
        try sock.getOutputStream.write(msg.getBytes(UTF_8)) finally sock.close()
      }
      tr.span("mapreduce.job") {
        val deadline = System.nanoTime() + JobTimeoutMs * 1000000L
        while (server.completedJobs == before) {
          if (System.nanoTime() > deadline)
            throw new java.util.concurrent.TimeoutException(s"no output for $out")
          Thread.sleep(0, 200000)
        }
      }
    }, () => {
      val got = Files.list(out).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("outputfile"))
        .flatMap(f => Files.readAllLines(f, UTF_8).asScala)
        .map { l => val Array(w, c) = l.split("\t"); w -> c.toLong }
      Session.deleteRecursively(out)
      got.size == expected.size && got.toMap == expected
    })
  }

  /** A few untimed jobs, so the timed ones are past most of the JIT
    * warm-up of the pipe and shuffle path. */
  override def warmup(): (Int, Int) = {
    val ok = (1 to WarmupJobs).count { _ =>
      val op = job()
      try { op.run(); op.check() } catch { case _: Exception => false }
    }
    (WarmupJobs, WarmupJobs - ok)
  }

  def next(): Op = job()
  override def close(): Unit = if (server != null) server.forceStop()
}

object MrJobs {
  val Mappers = 4
  val Reducers = 4
  val JobTimeoutMs = 60000L
  val CorpusBytes = 4L << 20
  val WarmupJobs = 3

  /** Writes about `bytes` of text in 8 files: lines of 4-16 words drawn
    * from a seeded vocabulary with Zipf(1.1) frequencies. Returns the
    * word counts. */
  def writeCorpus(in: Path, seed: Long, bytes: Long): Map[String, Long] = {
    val rng = new scala.util.Random(seed)
    val vocab = Array.fill(20000)(Array.fill(3 + rng.nextInt(8))(('a' + rng.nextInt(26)).toChar).mkString).distinct
    val cdf = vocab.indices.map(r => 1.0 / math.pow(r + 1, 1.1)).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    val counts = new java.util.HashMap[String, java.lang.Long]()
    val perFile = bytes / 8
    for (f <- 1 to 8) {
      val sb = new java.lang.StringBuilder
      while (sb.length < perFile) {
        val n = 4 + rng.nextInt(13)
        var i = 0
        while (i < n) {
          val x = rng.nextDouble() * total
          var k = java.util.Arrays.binarySearch(cdf, x)
          if (k < 0) k = -k - 1
          val w = vocab(math.min(k, vocab.length - 1))
          counts.merge(w, 1L, (a, b) => a + b)
          if (i > 0) sb.append(' ')
          sb.append(w)
          i += 1
        }
        sb.append('\n')
      }
      Files.write(in.resolve(f"file$f%02d"), sb.toString.getBytes(UTF_8))
    }
    counts.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }
}
