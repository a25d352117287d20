package graft.ops

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the lake write and read verbs. Their metadata —
  * schemas, manifest stats, the compaction panel — comes from footers,
  * one collected aggregate and the DV, so no verb launches Spark's
  * one-task parquet schema-inference job (a stage named `parquet at
  * Layout.scala:<line>`) and each write verb stays inside a fixed job
  * count, measured on a two-batch table with a deletion vector (the
  * lake_cycle shape, AQE on). */
class LakeMetadataJobsSpec extends AnyFunSuite with SparkTestBase {

  /** `f`'s result and the stage names of every job it launched, one
    * list per job: tags them with a fresh job group, then runs a
    * sentinel job in the group and waits for its end event, so every
    * earlier job event has reached the listener (one FIFO bus). */
  private def jobsOf[T](f: => T): (T, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    val group = s"graft-lake-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentSkipListMap[Int, Seq[String]]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.put(e.jobId, e.stageInfos.map(_.name))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.containsKey(e.jobId)) ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "lake job probe")
      val out = try {
        val out = f
        sc.parallelize(Seq(1), 1).count() // the sentinel
        out
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30000000000L
      while (jobs.isEmpty || ended.size < jobs.size) {
        assert(System.nanoTime < deadline, "listener never saw the sentinel job")
        Thread.sleep(10)
      }
      import scala.jdk.CollectionConverters._
      (out, jobs.values.asScala.toSeq.dropRight(1))
    } finally sc.removeSparkListener(listener)
  }

  private def inference(jobs: Seq[Seq[String]]): Seq[String] =
    jobs.flatten.filter(_.matches("parquet at Layout\\.scala:\\d+"))

  private val cols = Seq("k", "v")

  private def batch(lo: Long, hi: Long, dir: String): Unit =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("k"))
      .write.mode("append").parquet(dir)

  /** Persist and re-read, as a writer keeps each version's artifact. */
  private def persist(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("lake verbs keep their job budgets and run no schema-inference job") {
    val root = java.nio.file.Files.createTempDirectory("graft-lake-jobs").toString
    val dir = s"$root/data"
    batch(0, 2000, dir)
    val (m0Local, statsJobs) = jobsOf(Layout.statsManifest(spark, dir, cols))
    val m0 = persist(m0Local, s"$root/m0")
    batch(2000, 4000, dir)
    val (m1Local, extendJobs) = jobsOf(Layout.extendManifest(spark, dir, m0, cols))
    val m1 = persist(m1Local, s"$root/m1")
    // sparse deletes everywhere plus a dense run in the first file, so
    // compaction rewrites one hot file and rebinds the rest's DV rows
    val keys = spark.range(0, 4000, 37).union(spark.range(0, 200))
      .distinct().select(col("id").as("k"))
    val (dv, dvJobs) = jobsOf(persist(
      Layout.deletionVectorsForKeysPruned(spark, dir, m1, keys, "k"), s"$root/dv"))
    val (_, readJobs) = jobsOf(Seq(
      Layout.prunedRead(spark, dir, m1, "k", lit(100L), lit(900L)),
      Layout.snapshotReadWithDeletes(spark, dir, m1, dv),
      Layout.prunedReadWithDeletes(spark, dir, m1, "k", lit(0L), lit(3000L), dv)
    ).map(_.count()))
    val (residual, compactJobs) = jobsOf(
      Layout.compactDeletes(spark, dir, s"$root/out", dv, 0.05))
    val (_, compactStatsJobs) = jobsOf(
      Layout.statsManifest(spark, s"$root/out", cols))

    info(s"jobs: statsManifest ${statsJobs.size}, extendManifest ${extendJobs.size}, " +
      s"DV resolve + persist ${dvJobs.size}, three reads ${readJobs.size}, " +
      s"compactDeletes ${compactJobs.size}")
    withClue(s"statsManifest jobs $statsJobs") { assert(statsJobs.size <= 2) }
    withClue(s"extendManifest jobs $extendJobs") { assert(extendJobs.size <= 3) }
    withClue(s"compactDeletes jobs $compactJobs") { assert(compactJobs.size <= 5) }
    withClue(s"statsManifest over the compacted dir $compactStatsJobs") {
      assert(compactStatsJobs.size <= 2)
    }
    Seq("statsManifest" -> statsJobs, "extendManifest" -> extendJobs,
        "deletionVectorsForKeysPruned" -> dvJobs, "reads" -> readJobs,
        "compactDeletes" -> compactJobs).foreach { case (verb, jobs) =>
      assert(inference(jobs).isEmpty, s"$verb ran a schema-inference job: $jobs")
    }
    // the verbs still answer: the compacted table with its residual DV
    // is the deleted table
    val want = Layout.readWithDeletes(spark, dir, dv).count()
    assert(want === 4000L - 200L - (4000L / 37 + 1 - 6))
    assert(residual.count() > 0L)
    assert(Layout.readWithDeletes(spark, s"$root/out", residual).count() === want)
  }

  test("registerFromCatalog and the stream-copy guards open tables without inference") {
    val root = java.nio.file.Files.createTempDirectory("graft-lake-open").toString
    val dir = s"$root/data"
    batch(0, 1000, dir)
    persist(Layout.statsManifest(spark, dir, cols), s"$root/m0")
    Catalog.commit(spark, s"$root/catalog", Map("manifest" -> s"$root/m0"))
    val (_, regJobs) = jobsOf(graft.plans.ScanPruneRewrite.registerFromCatalog(
      spark, "graft_lake_jobs", dir, s"$root/catalog"))
    graft.plans.ScanPruneRewrite.unregister("graft_lake_jobs")
    assert(!regJobs.flatten.exists(_.startsWith("parquet at")),
      s"registerFromCatalog ran a schema-inference job: $regJobs")
    val (_, smallJobs) = jobsOf(
      Layout.compactSmall(spark, dir, s"$root/small", "k", 400L, 200L))
    assert(inference(smallJobs).isEmpty, s"compactSmall: $smallJobs")
    val changes = spark.range(10, 20).select(col("id").as("k"),
      lit(1L).as("v"), lit(false).as("is_delete"))
    val (_, mergeJobs) = jobsOf(
      Layout.mergeIntoLayout(spark, dir, s"$root/merged", changes, "k"))
    assert(inference(mergeJobs).isEmpty, s"mergeIntoLayout: $mergeJobs")
  }
}
