package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.immutable.HashMap
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** The table half of [[Lakehouse]]: a seeded mix of operations on two
  * `SnapshotTable`s of [[TableChurn.TableFiles]] files each, a flat one
  * (appends, merges, deletes, range scans, change feeds) and a
  * hive-partitioned one (appends, partition scans). Metadata reads go to
  * both. Operations come in rounds with a fixed mix, shuffled by the
  * seed, and each round ends with a compaction and a vacuum of the flat
  * table, so every round holds the same mix. Every scan, row count and
  * change feed is compared with an in-memory model of the tables. */
final class TableChurn(spark: SparkSession, seed: Long, tr: Tracer) {
  import TableChurn._
  import spark.implicits._

  private val rng = new scala.util.Random(seed)
  private var flatDir, partDir: String = _
  // model: key -> (value, tag); the partitioned table adds the partition
  private var flat = HashMap.empty[Long, (Long, String)]
  private var part = HashMap.empty[Long, (Long, Int, String)]
  private var flatV, partV = 0
  private val flatAt = mutable.Map.empty[Int, HashMap[Long, (Long, String)]]
  private var nextKey = 0L
  private var merges = 0

  // the same formulas as the set-up's SQL columns v and s
  private val seedMod = Math.floorMod(seed, 1000003L)
  private def value(k: Long): Long = Math.floorMod(k * 7919L + seedMod, 1000003L)
  private def tag(k: Long): String = "s" + (k % 997)

  def setup(d: Path): Unit = {
    flatDir = d.resolve("flat").toString
    partDir = d.resolve("part").toString
    val n = TableFiles.toLong * RowsPerFile
    val seedLit = lit(seedMod)
    val base = spark.range(0, n, 1, TableFiles).select(col("id").as("k"),
      pmod(col("id") * 7919L + seedLit, lit(1000003L)).as("v"),
      concat(lit("s"), pmod(col("id"), lit(997))).as("s"))
    flatV = SnapshotTable.commit(spark, flatDir, base, overwrite = false)
    val pbase = spark.range(n, 2 * n, 1, 8).select(col("id").as("k"),
      pmod(col("id") * 7919L + seedLit, lit(1000003L)).as("v"),
      pmod(col("id"), lit(TableFiles.toLong)).cast("int").as("p"),
      concat(lit("s"), pmod(col("id"), lit(997))).as("s"))
    partV = SnapshotTable.commitPartitionedBy(spark, partDir, pbase, Seq("p"))
    flat = HashMap.from((0L until n).map(k => k -> (value(k), tag(k))))
    part = HashMap.from((n until 2 * n).map(k => k -> (value(k), (k % TableFiles).toInt, tag(k))))
    flatAt.clear()
    flatAt(flatV) = flat
    nextKey = 2 * n
  }

  private def published(v: Int): Unit = {
    flatV = v
    flatAt(v) = flat
    flatAt.keys.filter(_ < v - KeepVersions).toSeq.foreach(flatAt.remove)
  }

  private def freshRows(m: Int): Seq[(Long, Long, String)] =
    (0 until m).map { _ => nextKey += 1; (nextKey, value(nextKey), tag(nextKey)) }

  /** Sums the checks compare: rows, sum(k), sum(v). */
  private def sums(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("v"), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
  private def modelSums(rows: Iterable[(Long, Long)]): (Long, Long, Long) =
    (rows.size.toLong, rows.map(_._1).sum, rows.map(_._2).sum)

  // Each operation's `run` makes only the table call; the model is
  // updated in its untimed check, which runs only when the call succeeded.

  private def appendFlat(): Op = {
    val rows = freshRows(AppendRows)
    var v = 0
    Op("append", "append_flat", () => {
      v = tr.span("snapshot.commit")(
        SnapshotTable.commit(spark, flatDir, rows.toDF("k", "v", "s"), overwrite = false))
    }, () => {
      flat = flat ++ rows.map(r => r._1 -> (r._2, r._3))
      published(v)
      true
    })
  }

  private def appendPart(): Op = {
    val p0 = rng.nextInt(TableFiles)
    val rows: Seq[(Long, Long, Int, String)] =
      freshRows(AppendRows).zipWithIndex.map { case ((k, v, s), i) =>
        (k, v, (p0 + i % 5) % TableFiles, s) }
    Op("append", "append_part", () => {
      partV = tr.span("snapshot.commit")(SnapshotTable.commitPartitionedBy(spark, partDir,
        rows.toDF("k", "v", "p", "s"), Seq("p")))
    }, () => {
      part = part ++ rows.map(r => r._1 -> (r._2, r._3, r._4))
      true
    })
  }

  private def liveKey(): Long = liveKeys(1).head

  private def liveKeys(m: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < math.min(m, flat.size)) {
      val k = (rng.nextDouble() * nextKey).toLong
      if (flat.contains(k)) out += k
    }
    out.toSeq
  }

  private def merge(): Op = {
    merges += 1
    val keys = liveKeys(MergeRows + 10)
    val (upd, del) = keys.splitAt(MergeRows)
    val ups = upd.map(k => (k, Math.floorMod(value(k) + merges, 1000003L), tag(k))) ++ freshRows(20)
    var v = 0
    Op("merge", "merge", () => {
      v = tr.span("snapshot.merge")(SnapshotTable.merge(spark, flatDir,
        ups.toDF("k", "v", "s"), del.toDF("k"), "k"))
    }, () => {
      flat = flat -- del ++ ups.map(r => r._1 -> (r._2, r._3))
      published(v)
      true
    })
  }

  private def delete(): Op = {
    val a = liveKey()
    var v: Option[Int] = None
    Op("delete", "delete", () => {
      v = tr.span("snapshot.deleteWhere")(
        SnapshotTable.deleteWhere(spark, flatDir, col("k").between(a, a + DeleteSpan)))
    }, () => {
      val gone = flat.keys.filter(k => k >= a && k <= a + DeleteSpan)
      flat = flat -- gone
      v.foreach(published)
      // no published version exactly when no live row matched
      v.isDefined == gone.nonEmpty
    })
  }

  /** Plans the filtered snapshot read, then executes the plan, rows
    * discarded, as the noop sink would. */
  private def scan(name: String, dir: String, version: Int, filter: Column,
      model: Seq[(Long, Long)]): Op = {
    var df: DataFrame = null
    Op("scan", name, () => {
      df = tr.span("snapshot.plan") {
        val d = SnapshotTable.readAsOf(spark, dir, version).filter(filter)
        d.queryExecution.executedPlan
        d
      }
      tr.span("sql.scan")(df.queryExecution.toRdd.foreach(_ => ()))
      tr.count("snapshot.rows_returned", model.size.toDouble)
    }, () => sums(df) == modelSums(model))
  }

  private def scanFlat(): Op = {
    val a = liveKey()
    scan("scan_flat", flatDir, flatV, col("k").between(a, a + ScanSpan),
      flat.iterator.collect { case (k, (v, _)) if k >= a && k <= a + ScanSpan => (k, v) }.toSeq)
  }

  private def scanPart(): Op = {
    val p = rng.nextInt(TableFiles)
    scan("scan_part", partDir, partV, col("p") === p,
      part.iterator.collect { case (k, (v, q, _)) if q == p => (k, v) }.toSeq)
  }

  private def meta(): Op = {
    val onFlat = rng.nextBoolean()
    val (dir, v, live) =
      if (onFlat) (flatDir, flatV, flat.size.toLong) else (partDir, partV, part.size.toLong)
    var got: (Seq[Int], Option[Long], Long) = null
    Op("meta", "meta", () => {
      val vs = tr.span("snapshot.versions")(SnapshotTable.versions(spark, dir))
      val rc = tr.span("snapshot.rowCount")(SnapshotTable.rowCount(spark, dir, v))
      val h = tr.span("snapshot.history")(SnapshotTable.history(spark, dir).collect().length.toLong)
      got = (vs, rc, h)
    }, () => got._1.lastOption.contains(v) && got._2.contains(live) && got._3 == got._1.size)
  }

  /** The change feed of the latest flat-table version; the round runs
    * it right after an append, so it reads an append chain. */
  private def changes(): Op = {
    val from = math.max(flatAt.keys.min, flatV - 1)
    val to = flatV
    var df: DataFrame = null
    Op("changes", "changes", () => {
      df = tr.span("snapshot.readChanges")(SnapshotTable.readChanges(spark, flatDir, from, to))
      tr.span("sql.execute")(df.write.format("noop").mode("overwrite").save())
    }, () => {
      val (a, b) = (flatAt(from), flatAt(to))
      val added = b.iterator.collect { case (k, (v, s)) if !a.get(k).contains((v, s)) => (k, v) }.toSeq
      val removed = a.iterator.collect { case (k, (v, s)) if !b.get(k).contains((v, s)) => (k, v) }.toSeq
      val ct = col("change_type")
      sums(df.filter(ct.isin("insert", "update_postimage"))) == modelSums(added) &&
        sums(df.filter(ct.isin("delete", "update_preimage"))) == modelSums(removed)
    })
  }

  /** Compaction of the small files appends, merges and deletes leave in
    * the flat table, then a vacuum of its expired versions. The
    * partitioned table only grows by a few files a round and is left as
    * is. */
  private def maintain(): Op = {
    var v: Option[Int] = None
    Op("maintain", "maintain", () => {
      v = tr.span("snapshot.compact")(
        SnapshotTable.compact(spark, flatDir, SmallFileBytes, TargetFileBytes))
      tr.span("snapshot.vacuum")(SnapshotTable.vacuum(spark, flatDir, KeepVersions))
    }, () => {
      v.foreach(published)
      SnapshotTable.rowCount(spark, flatDir, flatV).contains(flat.size.toLong)
    })
  }

  /** One round: the seed shuffles the steps; an append to the flat table
    * is followed by a read of its change feed; the round ends with
    * maintenance. */
  def round(): List[() => Op] =
    shuffled(List[() => Op](() => appendPart(), () => merge(), () => merge(),
      () => delete(), () => delete()) ++
      List.fill(3)(List[() => Op](() => scanFlat(), () => scanPart(), () => meta())).flatten)

  /** A round with one operation of each kind: the first runs. */
  def firstRound(): List[() => Op] =
    shuffled(List[() => Op](() => appendPart(), () => merge(), () => delete(),
      () => scanFlat(), () => scanPart(), () => meta()))

  private def shuffled(single: List[() => Op]): List[() => Op] = {
    val steps = List[() => Op](() => appendFlat(), () => changes()) :: single.map(List(_))
    rng.shuffle(steps).flatten :+ (() => maintain())
  }

  def layerMetrics(samples: Seq[Sample]): Map[String, Double] = {
    val t = tr.traces
    def perKind(name: String, k: String): Double = {
      val xs = t.filter(_.name == name)
      if (xs.isEmpty) 0.0 else xs.map(_.c(k)).sum / xs.size
    }
    def p50(kind: String): Double = {
      val xs = samples.filter(s => s.ok && s.kind == kind).map(_.seconds * 1000)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val scans = t.filter(_.kind == "scan")
    val returned = scans.map(_.c("snapshot.rows_returned")).sum
    val files = Seq(flatDir, partDir).map(d =>
      SnapshotTable.history(spark, d).orderBy(col("version").desc).head().getLong(2)).sum
    val bytes = Seq(flatDir, partDir).map { d =>
      val st = Files.walk(java.nio.file.Paths.get(d))
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally st.close()
    }.sum[Long]
    Map(
      "snapshot.commit_jobs_flat" -> perKind("append_flat", "spark.jobs"),
      "snapshot.commit_jobs_part" -> perKind("append_part", "spark.jobs"),
      "snapshot.scan_rows_read_per_returned" ->
        (if (returned == 0) 0.0 else scans.map(_.c("spark.records_read")).sum / returned),
      "snapshot.files_live" -> files.toDouble,
      "snapshot.bytes_per_live_row" -> bytes.toDouble / (flat.size + part.size),
      "table.append_p50_ms" -> p50("append"),
      "table.merge_p50_ms" -> p50("merge"),
      "table.delete_p50_ms" -> p50("delete"),
      "table.scan_p50_ms" -> p50("scan"),
      "table.meta_p50_ms" -> p50("meta"),
      "table.changes_p50_ms" -> p50("changes"),
      "table.maintain_p50_ms" -> p50("maintain"))
  }
}

object TableChurn {
  val TableFiles = 40
  val RowsPerFile = 200
  val AppendRows = 50
  val MergeRows = 100
  val DeleteSpan = 50L
  val ScanSpan = 2000L
  val KeepVersions = 8
  val SmallFileBytes = 2500L
  val TargetFileBytes = 1L << 20
}
