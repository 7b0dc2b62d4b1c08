package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The query half of [[Lakehouse]]: a fixed list of graft's declared
  * `SparkEntry` queries, each run through the noop sink, in seed-permuted
  * passes. Results are checked against the fingerprints recorded in
  * `expected`: a batch query by collecting it once more, untimed, after
  * its first run; a stream query, whose function runs the backfill
  * eagerly and returns its output, by collecting that output after every
  * run. With `record` set, [[record]] writes the fingerprints instead. */
final class QuerySuite(spark: SparkSession, seed: Long, tr: Tracer,
    corpus: Path, expected: Path, record: Boolean, trace: Boolean) {
  import QuerySuite._

  private val fns = graft.SparkEntry.queries
  private val rng = new scala.util.Random(seed)
  private val dir = corpus.toString
  private val verified = scala.collection.mutable.Set.empty[String]

  private lazy val want = Fingerprint.load(expected)

  private def verify(q: String, df: => DataFrame): Boolean = {
    val fp = try Some(Fingerprint.of(df.collect())) catch {
      case e: Exception => System.err.println(s"[perfbench] $q failed: $e"); None
    }
    val ok = fp.exists(f => want.get(q).exists(f.matches))
    if (!ok) System.err.println(s"[perfbench] $q: result $fp, expected ${want.get(q)}")
    ok
  }

  private def op(q: String): Op = {
    var df: DataFrame = null
    val stream = Streams.contains(q)
    Op("query", q, () => {
      df = tr.span(if (stream) "stream.run" else "operators.build")(fns(q)(spark, dir))
      tr.span("sql.execute")(df.write.format("noop").mode("overwrite").save())
    }, () => record ||
      (if (stream) verify(q, df) else !verified.add(q) || verify(q, fns(q)(spark, dir))))
  }

  /** One pass over every query in seeded order. The traced run runs each
    * query twice in a row, once traced and once not, so it can measure
    * its own overhead per query. */
  def pass(): List[() => Op] =
    rng.shuffle(Queries).toList.flatMap(q => List.fill(if (trace) 2 else 1)(() => op(q)))

  /** Writes the fingerprints of every query's result on the current code. */
  def record(): Unit =
    Fingerprint.save(expected, Queries.map { q =>
      val fp = Fingerprint.of(fns(q)(spark, dir).collect())
      graft.CacheRegistry.clear(spark)
      q -> fp
    })
}

object QuerySuite {
  /** Catalyst-, codegen- and operator-heavy batch queries, one or more
    * from each family; none touches SnapshotTable, streaming or pipes. */
  val Batch = Seq(
    "q1_pricing_summary", "q11_rollup", "text_quality", "dedup_exact_groups",
    "ann_brute_topk", "graph_assortativity", "events_deciles")

  /** An AvailableNow backfill with state (a tumbling-window aggregate);
    * it does not touch SnapshotTable. */
  val Streams = Seq("stream_tumbling")

  val Queries: Seq[String] = Batch ++ Streams
}

/** Order-insensitive fingerprint of a query result: the row count, a sum
  * of per-row hashes over every value except floating-point ones, and the
  * sum and absolute sum of the floating-point values (compared with a
  * relative tolerance, since summation order may differ between runs). */
final case class Fingerprint(rows: Long, hash: Long, dsum: Double, dabs: Double) {
  def matches(o: Fingerprint): Boolean = {
    val tol = 1e-6 * math.max(1.0, o.dabs)
    rows == o.rows && hash == o.hash &&
      math.abs(dsum - o.dsum) <= tol && math.abs(dabs - o.dabs) <= tol
  }
}

object Fingerprint {
  def of(rows: Array[Row]): Fingerprint = {
    var hash = 0L
    var dsum = 0.0
    var dabs = 0.0
    def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
      case null => sb.append('~')
      case d: Double => num(d, sb)
      case f: Float => num(f.toDouble, sb)
      case r: Row => sb.append('('); r.toSeq.foreach { x => canon(x, sb); sb.append(',') }; sb.append(')')
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.toSeq.map { case (k, x) =>
          val e = new java.lang.StringBuilder; canon(k, e); e.append("->"); canon(x, e); e.toString
        }.sorted.foreach(e => sb.append(e).append(','))
        sb.append('}')
      case s: scala.collection.Seq[_] => sb.append('['); s.foreach { x => canon(x, sb); sb.append(',') }; sb.append(']')
      case b: Array[Byte] => b.foreach(x => sb.append(f"${x & 0xff}%02x"))
      case bd: java.math.BigDecimal => sb.append(bd.stripTrailingZeros.toPlainString)
      case x => sb.append(x.toString)
    }
    def num(d: Double, sb: java.lang.StringBuilder): Unit =
      if (d.isNaN || d.isInfinite) sb.append(d.toString)
      else { sb.append('d'); dsum += d; dabs += math.abs(d) }
    rows.foreach { r =>
      val sb = new java.lang.StringBuilder
      canon(r, sb)
      val s = sb.toString
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x0b5e55ed)
      hash += (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
    }
    Fingerprint(rows.length.toLong, hash, dsum, dabs)
  }

  def load(p: Path): Map[String, Fingerprint] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(q, r, h, s, a) = l.split("\t")
      q -> Fingerprint(r.toLong, h.toLong, s.toDouble, a.toDouble)
    }.toMap

  def save(p: Path, fps: Seq[(String, Fingerprint)]): Unit =
    Files.write(p, fps.sortBy(_._1).map { case (q, f) => s"$q\t${f.rows}\t${f.hash}\t${f.dsum}\t${f.dabs}" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
}
