package graftbench

/** Per-layer metrics of a traced run, derived from its spans. Every
  * metric is reported on every workload; a layer the workload does not
  * touch reads 0. Per-call values are medians over the calls of the run. */
object PerLayer {

  private def root(t: Tracer): Span = t.spans.find(_.name.startsWith("bench.")).get

  /** Spans of the timed loop (warm-up spans excluded). */
  private def timed(t: Tracer): Seq[Span] = {
    val r = root(t)
    t.spans.filter(s => s.start >= r.start && s.end <= r.end).toSeq
  }

  private def named(t: Tracer, n: String): Seq[Span] = timed(t).filter(_.name == n)

  private def med(t: Tracer, n: String)(f: Span => Double): Double =
    Stats.medianOr0(named(t, n).map(f))

  private def counter(k: String)(s: Span): Double = s.counters.getOrElse(k, 0.0)

  private def fsReads(s: Span): Double =
    counter("fs_read_ops")(s) + counter("fs_list_ops")(s) + counter("fs_status_ops")(s)

  /** Top-level operations of the timed loop. */
  def ops(t: Tracer): Int = timed(t).count(_.name.startsWith("op."))

  private def rate(t: Tracer, n: String): Double = {
    val ss = named(t, n)
    val wall = ss.map(_.wallS).sum
    if (wall == 0) 0.0 else ss.map(counter("rows")).sum / wall
  }

  def compute(t: Tracer, wl: Workload): Seq[(String, Metric)] = {
    val s = (n: String) => med(t, n)(_.wallS)
    val jobs = (n: String) => med(t, n)(x => t.work(x).jobs.toDouble)
    val root = this.root(t)
    val rootWork = t.work(root)
    val nOps = math.max(1, ops(t)).toDouble
    val extra = wl.perLayer(t)
    Seq(
      "diff.compare.s" -> Metric(s("diff.compare"), "s"),
      "diff.compare.self_s" -> Metric(med(t, "diff.compare")(t.selfS), "s"),
      "diff.compare.jobs" -> Metric(jobs("diff.compare"), "count"),
      "diff.compare.driver_gap_s" -> Metric(med(t, "diff.compare")(t.driverGapS), "s"),
      "diff.compare.task_s" -> Metric(med(t, "diff.compare")(t.work(_).taskMs / 1000.0), "s"),
      "diff.compare.shuffle_bytes" -> Metric(med(t, "diff.compare")(t.work(_).shuffleBytes.toDouble), "B"),
      "schema.flatten.s" -> Metric(s("schema.flatten"), "s"),
      "schema.flatten.columns" -> Metric(med(t, "schema.flatten")(counter("columns")), "count"),
      "io.load.s" -> Metric(s("io.load"), "s"),
      "io.load.fs_read_ops" -> Metric(med(t, "io.load")(fsReads), "count"),
      "io.write.s" -> Metric(s("io.write"), "s"),
      "io.write.bytes" -> Metric(med(t, "io.write")(counter("bytes")), "B"),
      "infodiff.compare.s" -> Metric(s("infodiff.compare"), "s"),
      "io.append.s" -> Metric(s("io.append"), "s"),
      "ops.stats_manifest.s" -> Metric(s("ops.stats_manifest"), "s"),
      "ops.extend_manifest.s" -> Metric(s("ops.extend_manifest"), "s"),
      "ops.extend_manifest.jobs" -> Metric(jobs("ops.extend_manifest"), "count"),
      "ops.deletion_vectors.s" -> Metric(s("ops.deletion_vectors"), "s"),
      "ops.deletion_vectors.jobs" -> Metric(jobs("ops.deletion_vectors"), "count"),
      "ops.catalog_commit.s" -> Metric(s("ops.catalog_commit"), "s"),
      "ops.catalog_commit.fs_ops" -> Metric(med(t, "ops.catalog_commit")(x =>
        fsReads(x) + counter("fs_write_ops")(x)), "count"),
      "ops.compact.s" -> Metric(s("ops.compact"), "s"),
      "ops.compact.bytes_rewritten" -> Metric(med(t, "ops.compact")(counter("bytes_rewritten")), "B"),
      "ops.read.s" -> Metric(s("ops.read"), "s"),
      "ops.read.jobs" -> Metric(jobs("ops.read"), "count"),
      "ops.read.files_scanned_frac" -> Metric(extra.getOrElse("ops.read.files_scanned_frac", 0.0), "frac"),
      "io.read.fs_list_ops" -> Metric(med(t, "ops.read")(counter("fs_list_ops")), "count"),
      "plans.sql_read.s" -> Metric(s("plans.sql_read"), "s"),
      "plans.sql_read.plan_s" -> Metric(med(t, "plans.sql_read")(counter("plan_s")), "s"),
      "plans.sql_read.files_scanned_frac" ->
        Metric(extra.getOrElse("plans.sql_read.files_scanned_frac", 0.0), "frac"),
      "ops.dedup_exact.s" -> Metric(s("ops.dedup_exact"), "s"),
      "ops.dedup_near.s" -> Metric(s("ops.dedup_near"), "s"),
      "ops.dedup_near.task_s" -> Metric(med(t, "ops.dedup_near")(t.work(_).taskMs / 1000.0), "s"),
      "ops.dedup_near.shuffle_bytes" ->
        Metric(med(t, "ops.dedup_near")(t.work(_).shuffleBytes.toDouble), "B"),
      "ops.dedup_near.jobs" -> Metric(jobs("ops.dedup_near"), "count"),
      "ops.dedup_near.pairs_found" -> Metric(med(t, "ops.dedup_near")(counter("pairs_found")), "count"),
      "ops.quality.s" -> Metric(s("ops.quality"), "s"),
      "ops.ivf_build.s" -> Metric(s("ops.ivf_build"), "s"),
      "ops.ivf_search.s" -> Metric(s("ops.ivf_search"), "s"),
      "functions.minhash.rows_per_s" -> Metric(rate(t, "functions.minhash"), "rows/s"),
      "functions.dot.rows_per_s" -> Metric(rate(t, "functions.dot"), "rows/s"),
      "spark.jobs" -> Metric(rootWork.jobs / nOps, "count"),
      "spark.tasks" -> Metric(rootWork.tasks / nOps, "count"),
      "spark.parallelism" -> Metric(rootWork.taskMs / 1000.0 / root.wallS, "x"),
      "spark.spill_bytes" -> Metric(rootWork.spillBytes / nOps, "B"),
      "trace.self_sum_frac" -> Metric(timed(t).map(t.selfS).sum / root.wallS, "frac"))
  }

  /** One JSON object per span: name, start, end, parent, op id, self
    * time and the Spark work attributed to it. */
  def spansJsonl(t: Tracer): String = t.spans.map { s =>
    val w = t.jobs.work.getOrDefault(s.id, new SpanWork)
    Json.obj(Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "op" -> s.op.toString, "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
      "self_s" -> Json.num(t.selfS(s)), "jobs" -> w.jobs.toString, "tasks" -> w.tasks.toString,
      "task_s" -> Json.num(w.taskMs / 1000.0), "shuffle_bytes" -> w.shuffleBytes.toString,
      "scans" -> w.execIds.toSeq.sorted.flatMap(id => Option(t.files.scans.get(id)).getOrElse(Nil))
        .map { case (root, n) => Json.obj(Seq("root" -> Json.str(root), "files" -> n.toString)) }
        .mkString("[", ", ", "]"),
      "counters" -> Json.obj(s.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
  }.mkString("", "\n", "\n")
}
