package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** The Spark session every workload runs on, and process-level helpers. */
object Session {

  /** Local cores for Spark: the box's count, at most four, so runs on
    * bigger machines stay comparable. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** Same settings as `graft.Bench`, with every scratch path inside the
    * run's work directory. */
  def create(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(work.resolve("rdd-checkpoints").toString)
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }
}
