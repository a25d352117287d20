package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out DIR [--commit SHA]`.
  * Prints every metric with its unit, then one JSON result line; exits 1
  * when any output check failed. */
object Main {

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toInt
    val traced = kv.getOrElse("trace", "0") == "1"
    val work = kv("work")
    val out = kv("out")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.hadoop.fs.FileSystem.closeAll() // drop any instance cached before the override

    val tracer = Tracer(traced, spark)
    val ctx = new Ctx(spark, tracer, seed, work)
    val wl: Workload = workload match {
      case "diff_suite" => new DiffSuite(ctx)
      case "lake_cycle" => new LakeCycle(ctx)
      case "corpus_prep" => new CorpusPrep(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val checks = new Checks

    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val (_, inputsS) = Workload.timed(wl.setup())
    val (_, warmS) = Workload.timed(wl.round(-1, checks, timed = false))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val gc0 = gcMs
    val t0 = System.nanoTime()
    var rounds = 0
    tracer.span(s"bench.$workload") {
      var last = 0.0
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (rounds == 0 || elapsed + last / 2 < seconds) {
        val r0 = System.nanoTime()
        wl.round(rounds, checks, timed = true)
        last = (System.nanoTime() - r0) / 1e9
        rounds += 1
      }
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMs - gc0) / 1000.0
    tracer.drain()

    val e2e = ("setup_s" -> Metric(setupS, "s")) +: wl.endToEnd
    val layers = if (traced) PerLayer.compute(tracer, wl) :+
      ("jvm.gc_s" -> Metric(gcS / math.max(1, PerLayer.ops(tracer)), "s")) else Nil

    val stamp = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> traced.toString, "cores" -> cores.toString,
      "spark" -> Json.str(spark.version), "jvm" -> Json.str(System.getProperty("java.version")),
      "commit" -> Json.str(kv.getOrElse("commit", "unknown")),
      "input_rows" -> wl.inputRows.toString, "input_bytes" -> wl.inputBytes.toString,
      "rounds" -> rounds.toString, "timed_s" -> Json.num(timedS),
      "setup_parts_s" -> Json.obj(Seq("session" -> Json.num(sessionS),
        "inputs" -> Json.num(inputsS), "warmup_round" -> Json.num(warmS))),
      "samples" -> Json.obj(wl.samples.toSeq.map { case (k, v) => k -> v.toString }),
      "attempted" -> checks.attempted.toString, "failed" -> checks.failed.toString,
      "failures" -> checks.messages.map(Json.str).mkString("[", ", ", "]"))
    val report = Json.obj(stamp ++ Seq("end_to_end" -> Json.metrics(e2e),
      "per_layer" -> Json.metrics(layers)))
    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    Files.write(s"$out/result-$tag.json", report + "\n")
    if (traced) Files.write(s"$out/trace-$tag.jsonl", PerLayer.spansJsonl(tracer))

    checks.messages.foreach(m => println(s"FAILED $m"))
    println(f"checks: ${checks.attempted} attempted, ${checks.failed} failed " +
      f"(failed_frac ${checks.failed.toDouble / math.max(1L, checks.attempted)}%.4f)")
    println(s"samples: ${wl.samples.map { case (k, v) => s"$k=$v" }.mkString(" ")}, rounds=$rounds")
    println(f"setup: session $sessionS%.2fs, inputs $inputsS%.2fs, warm-up round $warmS%.2fs; " +
      f"timed $timedS%.2fs")
    (e2e ++ layers).foreach { case (k, m) => println(s"$k ${Json.num(m.value)} ${m.unit}") }
    val reported = if (traced) layers else e2e
    println(Json.obj(Seq(
      "correct" -> (checks.failed == 0).toString,
      "attempted" -> checks.attempted.toString,
      "failed" -> checks.failed.toString,
      "metrics" -> Json.metrics(reported))))
    spark.stop()
    if (checks.failed > 0) sys.exit(1)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
