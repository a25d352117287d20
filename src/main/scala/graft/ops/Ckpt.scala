package graft.ops

import org.apache.spark.sql.Dataset

/** The engine's single materialization-barrier primitive. Every
  * lineage-truncation site in `graft.ops` routes through [[pinned]]
  * (usually via the [[CkptSyntax.ckpt]] suffix) instead of calling
  * `Dataset.localCheckpoint` directly, so the eager-vs-lazy decision is
  * made in exactly one place.
  *
  * == Why eager is the only safe default ==
  *
  * `localCheckpoint(eager = false)` leaves the checkpoint PENDING: the
  * first job that touches the RDD materializes it, and at the end of
  * that job `SparkContext.runJob` calls `rdd.doCheckpoint()` ON THE
  * THREAD THAT SUBMITTED THE JOB. When the pending frame feeds a join
  * that Spark decides to broadcast — an explicit `broadcast()` hint or
  * AQE's runtime conversion (common for the small label/panel tables
  * these barriers protect) — that first job is the broadcast-relation
  * build, which runs on a `broadcast-exchange-*` pool thread. The
  * checkpoint-marking path (`RDDCheckpointData.checkpoint` →
  * `rdd.markCheckpointed`) takes the global `RDDCheckpointData$` lock
  * and then the RDD's own monitor, while the concurrently-active
  * `dag-scheduler-event-loop` (scheduling sibling stages of the same
  * query) takes the RDD monitor first (`getCacheLocs → RDD.partitions`)
  * and then wants the global lock (`RDDCheckpointData.checkpointRDD`).
  * The lock order inverts and the job hangs forever with zero CPU and
  * no error — observed under jstack in this exact engine (round-15
  * verdict): a production-killing liveness bug, not a perf trade.
  *
  * The "fuse materialization into the first consumer's job" optimization
  * is therefore unsound whenever the frame can reach a broadcast build
  * before a driver-thread action lands — and because `localCheckpoint`
  * itself compiles the physical plan (kicking off broadcast futures for
  * everything BELOW it), even loop-digest patterns race: round N+1's
  * barrier call can start a broadcast build over round N's still-pending
  * frame before round N+1's digest runs. So [[pinned]] materializes
  * eagerly by default: the compute happens exactly once either way (the
  * consumer then reads the cached blocks), eager only adds one driver-
  * thread job launch per site, and the pending-checkpoint window never
  * exists. `spark.graft.checkpoint.eager=false` restores the old lazy
  * behavior for A/B perf measurements ONLY — never set it on a cluster
  * where any barriered frame can feed a broadcast join.
  *
  * `localCheckpoint` (not `persist`) remains the right primitive: a
  * persisted Dataset is pinned by the CacheManager until an explicit
  * `unpersist` nobody can issue (the consuming action happens in the
  * caller), while checkpoint blocks are freed by the ContextCleaner as
  * soon as the result is unreachable.
  */
object Ckpt {

  /** Set to "false" to restore lazy checkpoints (perf A/B only — unsafe
    * with broadcast joins; see the object scaladoc). The opt-out applies
    * ONLY to [[pinned]]: sites where eagerness is load-bearing for
    * CORRECTNESS — a frame derived from `load(path)` pinned immediately
    * before an overwrite publish back to that same `path` (the
    * index/rollup re-publication loops) — use [[forced]], which ignores
    * this conf. A lazy checkpoint there leaves the read of the target
    * directory pending while the overwrite deletes it, destroying the
    * persisted state the publish was refreshing. */
  val EagerConf = "spark.graft.checkpoint.eager"

  /** Materialization barrier: truncate lineage and cache via
    * `localCheckpoint`, eagerly unless [[EagerConf]] opts out. */
  def pinned[T](ds: Dataset[T]): Dataset[T] = {
    val eager =
      ds.sparkSession.conf.get(EagerConf, "true").equalsIgnoreCase("true")
    ds.localCheckpoint(eager = eager)
  }

  /** [[pinned]] with the [[EagerConf]] opt-out BYPASSED — for
    * read-your-own-overwrite sites, where the barrier is a correctness
    * requirement (the frame must be fully materialized before its source
    * directory is deleted by the overwrite), not a liveness/perf
    * default. */
  def forced[T](ds: Dataset[T]): Dataset[T] =
    ds.localCheckpoint(eager = true)

  /** [[forced]] ONLY when the frame's plan actually scans files under
    * `path` — the exact condition the read-your-own-overwrite pin
    * exists for. The index save verbs overwrite a destination the
    * frame MAY have been derived from (in-place re-publication), but
    * in the two most common flows it was not: a fresh build reads only
    * the corpus, and a [[Versions]] publish writes into a brand-new
    * immutable version dir while reading the previous one. Those paid
    * a full eager materialization per table (≈8 extra jobs per
    * NearDupIndex save) purely as insurance. The plan walk is exact
    * for file relations: every `HadoopFsRelation`'s resolved root
    * paths are checked against `path`, qualified first (relation roots
    * are qualified, so a relative or scheme-less `path` must be too),
    * with no filesystem I/O. Under the lazy [[EagerConf]] opt-out the
    * walk cannot be trusted — a pending upstream checkpoint hides its
    * file reads behind an opaque `LogicalRDD` — so it pins always. */
  def pinnedIfReadsFrom[T](ds: Dataset[T], path: String): Dataset[T] = {
    val spark = ds.sparkSession
    if (!spark.conf.get(EagerConf, "true").equalsIgnoreCase("true"))
      return forced(ds)
    val raw = new org.apache.hadoop.fs.Path(path)
    val target = graft.io.PathResolver
      .fsFor(path, spark.sparkContext.hadoopConfiguration)
      .makeQualified(raw).toUri.getPath
    def under(p: org.apache.hadoop.fs.Path): Boolean = {
      val s = p.toUri.getPath
      s == target || s.startsWith(target + "/")
    }
    val reads = ds.queryExecution.analyzed.exists {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation => fs.location.rootPaths.exists(under)
          case _ => false
        }
      case _ => false
    }
    if (reads) forced(ds) else ds
  }

  /** Free a SUPERSEDED barrier's cached blocks immediately, instead of
    * waiting for the ContextCleaner to notice unreachability. The
    * growing-index folds (s39/s40, the soak's `growing_admission`)
    * replace a pinned index image every batch; without an explicit
    * release, generation k's blocks stay resident until GC + cleaner
    * catch up, so two-plus full images transiently coexist — at 50×
    * soak scale that overflowed the default 8 GiB driver (round-17
    * PLANS note). Releasing the superseded image right after the new
    * pin materializes bounds residency at one live + one in-flight
    * image, which is what a crawl front door actually needs.
    *
    * CONTRACT: the frame must never be read again. A local checkpoint
    * truncated its lineage, so the blocks are the only copy — a later
    * action on a released frame fails with a missing-block error
    * rather than silently recomputing. Safe no-op on frames that were
    * never checkpointed. Returns the number of RDDs released. */
  def release[T](ds: Dataset[T]): Int =
    org.apache.spark.sql.graftbridge.ColumnBridge.releaseCheckpointBlocks(ds)

  /** `df.ckpt` suffix syntax for [[pinned]]. */
  implicit final class CkptSyntax[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt: Dataset[T] = pinned(ds)
  }
}
