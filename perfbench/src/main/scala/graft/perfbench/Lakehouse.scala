package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** Table churn and analytic queries on one session: each cycle is two
  * [[TableChurn]] rounds merged, in seeded order, with one [[QuerySuite]]
  * pass. The first cycle holds the first runs: one operation of each
  * table kind and one pass.
  * The table rounds work the manifest, commit and scan layers of
  * `SnapshotTable`; the queries work Catalyst, codegen, graft's operators
  * and a stateful stream backfill on a parquet corpus no table operation
  * touches. */
final class Lakehouse(spark: SparkSession, seed: Long, tr: Tracer, corpus: Path,
    expected: Path, record: Boolean, trace: Boolean) extends Workload {

  private val rng = new scala.util.Random(seed ^ 0x1a4e)
  private val tables = new TableChurn(spark, seed, tr)
  private val queries = new QuerySuite(spark, seed, tr, corpus, expected, record, trace)
  private var cycle: List[() => Op] = Nil
  private var cycles = 0

  /** Building the tables is the costly part of the set-up, so it runs
    * once; the corpus is written before the JVM starts (corpus.py). */
  override def setupRepeats: Int = 1
  def setup(d: Path): Unit = tables.setup(d)

  override def warmup(): (Int, Int) = {
    if (record) queries.record()
    (0, 0)
  }

  def next(): Op = {
    if (cycle.isEmpty) {
      val rounds = if (cycles == 0) tables.firstRound() else tables.round() ++ tables.round()
      cycle = merge(rounds, queries.pass(), Nil)
      cycles += 1
    }
    val op = cycle.head
    cycle = cycle.tail
    op()
  }

  /** Interleaves two lists, keeping the order within each. */
  @scala.annotation.tailrec
  private def merge[T](a: List[T], b: List[T], acc: List[T]): List[T] =
    if (a.isEmpty || b.isEmpty) acc.reverse ++ a ++ b
    else if (rng.nextInt(a.size + b.size) < a.size) merge(a.tail, b, a.head :: acc)
    else merge(a, b.tail, b.head :: acc)

  override def atBoundary: Boolean = cycle.isEmpty

  override def layerMetrics(samples: Seq[Sample]): Map[String, Double] =
    tables.layerMetrics(samples)
}
