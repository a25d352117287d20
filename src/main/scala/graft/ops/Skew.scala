package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (SURVEY.md §7 "100 TB posture").
  *
  * AQE's skew-join handling covers sort-merge joins after the fact;
  * explicit salting is still the right tool when one known-hot key would
  * otherwise pin a single task (e.g. the null/default key of a fact
  * table, or a power-law entity id).
  */
object Skew {

  /** Salted inner equi-join: the left (large, skewed) side gets a
    * deterministic salt in [0, factor); the right side is replicated
    * `factor` ways; the join key becomes (key, salt), spreading each hot
    * key over `factor` tasks. Result is row-identical to the unsalted
    * join (spec-verified).
    *
    * Right-side replication costs factor× its size — use for
    * dimension-sized right sides that are too big to broadcast but tiny
    * next to the fact. */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      factor: Int): DataFrame = {
    require(factor >= 1)
    val saltName = "graft_salt"
    // deterministic per-row salt: stable under retries (no rand())
    val saltedLeft = left.withColumn(saltName,
      pmod(xxhash64(left.columns.map(col).toSeq: _*), lit(factor)).cast("int"))
    val replicatedRight = right.withColumn(saltName,
      explode(sequence(lit(0), lit(factor - 1))))
    saltedLeft.join(replicatedRight, Seq(key, saltName), "inner").drop(saltName)
  }

  /** Spread a CPU-heavy per-row kernel whose input scans NARROWER than
    * the session's parallelism — the unsplittable-tiny-input case
    * (guide §2.5): one small parquet file plans as one scan task, so an
    * explode/shingle kernel placed in that scan stage serializes on one
    * core no matter how many the session has (d44's 3-gram count ran
    * 4.6 s of task time in 8 tasks on 32 cores). A no-op when the input
    * already carries parallelism — at table scale a scan has thousands
    * of splits and this must never inject a payload shuffle. The
    * round-robin repartition is deterministic-safe here because every
    * consumer aggregates or joins on keys, never on row order. The
    * width comes from the plan ([[scanWidth]]), so the check launches
    * no job. */
  def spreadNarrowInput(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (scanWidth(df) * 2 < want) df.repartition(want) else df
  }

  /** The partition count of the stage that reads `df`'s leaves, taken
    * from the physical plan without executing it (`df.rdd` would run
    * every upstream shuffle under AQE just to count partitions): a file
    * scan counts its planned splits, a union sums its children, a join
    * takes its widest non-broadcast side, a cached relation counts its
    * cached plan, and a shuffle counts its planned partitions (before
    * any AQE coalescing, which only happens at run time). */
  private[ops] def scanWidth(df: DataFrame): Int = {
    def width(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => width(a.executedPlan)
      case q: QueryStageExec => width(q.plan) // an already-run frame
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
      case e: ShuffleExchangeLike => e.numPartitions
      case u: UnionExec => u.children.map(width).sum
      case c: InMemoryTableScanExec => width(c.relation.cachedPlan)
      case l: LeafExecNode => l.execute().getNumPartitions
      case other => other.children.filterNot(broadcast).map(width)
        .maxOption.getOrElse(1)
    }
    def broadcast(p: SparkPlan): Boolean = p match {
      case q: QueryStageExec => broadcast(q.plan)
      case _ => p.isInstanceOf[BroadcastExchangeLike]
    }
    width(df.queryExecution.executedPlan)
  }

  /** Two-phase aggregation for high-cardinality-group skew: pre-aggregate
    * on (key, salt), then combine. For algebraic aggregates Spark's
    * map-side partial aggregation already does this; the explicit form
    * helps when one reduce-side group would still be huge (e.g.
    * collect_list-style state). `aggs` are the phase-1 aggregates; the
    * caller combines phase-2 with `combine`. */
  def twoPhaseAgg(
      df: DataFrame,
      key: String,
      salt: Int,
      aggs: Seq[Column],
      combine: DataFrame => DataFrame): DataFrame = {
    val pre = df
      .withColumn("graft_salt",
        pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(salt)).cast("int"))
      .groupBy(col(key), col("graft_salt"))
      .agg(aggs.head, aggs.tail: _*)
      .drop("graft_salt")
    combine(pre)
  }
}
