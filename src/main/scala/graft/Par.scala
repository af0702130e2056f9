package graft

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Parallelism repair for CPU-dense pipelines over narrow sources.
  *
  * A scan's split count floors at ONE SPLIT PER FILE — a small corpus
  * in one parquet file runs every downstream narrow operator
  * (tokenization, hashing, signature computation) on a single task no
  * matter how many cores the cluster has (measured: 6× on the sf0.1
  * documents table for n-gram explode). `spread` round-robins such an
  * input up to the default parallelism BEFORE the expensive
  * projection; when the source already carries at least cores-many
  * splits (any warehouse-scale table), it is a no-op — no shuffle is
  * added on the path where the data is already wide.
  *
  * The decision reads the PHYSICAL PLAN and never runs it: under AQE,
  * `df.rdd.getNumPartitions` executes every shuffle stage of `df`, and
  * the repartitioned frame then computes them again. A plan with a
  * shuffle is returned unchanged — AQE owns post-shuffle parallelism
  * (its partition coalescing is sized to the cores). A narrow plan is
  * counted from its leaves' splits, which are known at planning time.
  * A caller whose OUTPUT (not just its speed) depends on the partition
  * layout must repartition itself.
  */
object Par {
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df    // micro-batch sizing is the stream's own concern
    val target = df.sparkSession.sparkContext.defaultParallelism
    // the SCAN split count, not the file count: maxPartitionBytes
    // coalesces many small files into few splits (measured: a 32-file
    // 272 KB artifact scanned as ONE partition, serializing the whole
    // downstream signature stage on one task). A plan whose splits
    // cannot be read without running it is left as it is.
    Try(splits(df.queryExecution.executedPlan)).toOption.flatten match {
      case Some(n) if n < target => df.repartition(target)
      case _ => df
    }
  }

  /** Output partitions of a shuffle-free plan, summed over the leaves
    * that feed its partitions; None when a shuffle sets them. A
    * broadcast side is built on the driver and adds none. */
  private def splits(p: SparkPlan): Option[Int] = p match {
    case _: ShuffleExchangeLike => None
    case _: BroadcastExchangeLike | _: BroadcastQueryStageExec => Some(0)
    case a: AdaptiveSparkPlanExec => splits(a.executedPlan)
    case q: QueryStageExec => splits(q.plan)
    case r: ReusedExchangeExec => splits(r.child)
    case m: InMemoryTableScanExec =>
      val cache = m.relation.cacheBuilder
      if (cache.isCachedColumnBuffersLoaded) Some(cache.cachedColumnBuffers.getNumPartitions)
      else splits(m.relation.cachedPlan)
    case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
    case c: CoalesceExec => splits(c.child).map(math.min(_, c.numPartitions))
    case leaf if leaf.children.isEmpty =>
      Some((if (leaf.supportsColumnar) leaf.executeColumnar() else leaf.execute()).getNumPartitions)
    case other =>
      other.children.foldLeft(Option(0))((acc, c) => for (a <- acc; n <- splits(c)) yield a + n)
  }
}
