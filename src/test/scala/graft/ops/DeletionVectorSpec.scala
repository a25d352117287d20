package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout.deletionVectors / readWithDeletes: row-level deletes without
  * touching data files. The spec pins the three contracts the doc
  * makes: (1) data files are BYTE-IDENTICAL after a delete (merge-on-
  * read, not rewrite); (2) the DV-applied scan equals the plain
  * NOT-predicate filter, including across composed delete waves;
  * (3) the plan subtracts the DV by a broadcast anti join — the base
  * side never shuffles. */
class DeletionVectorSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def writeTable(n: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dv").toString
    spark.range(n)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def fileBytes(dir: String): Map[String, Long] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length()).toMap

  private def fileDigests(dir: String): Map[String, String] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md = java.security.MessageDigest.getInstance("MD5")
        f.getName -> md.digest(bytes).map("%02x".format(_)).mkString
      }.toMap

  test("delete leaves every data file byte-identical") {
    val dir = writeTable(1000)
    val before = fileDigests(dir)
    val dv = Layout.deletionVectors(spark, dir, col("v") === 3)
    assert(dv.count() > 0)
    Layout.readWithDeletes(spark, dir, dv).count() // force the read too
    assert(fileDigests(dir) === before)
    assert(fileBytes(dir).nonEmpty)
  }

  test("DV-applied scan equals the NOT-predicate filter") {
    val dir = writeTable(1000)
    val dv = Layout.deletionVectors(spark, dir, col("v") === 3)
    val got = Layout.readWithDeletes(spark, dir, dv)
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    val want = spark.read.parquet(dir).filter(col("v") =!= 3)
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got === want)
  }

  test("delete waves compose by union and overlap idempotently") {
    val dir = writeTable(1000)
    val w1 = Layout.deletionVectors(spark, dir, col("v") === 3)
    // wave 2 overlaps wave 1 (k < 500 includes some v == 3 rows)
    val w2 = Layout.deletionVectors(spark, dir, col("k") < 500)
    val dv = w1.unionAll(w2).distinct()
    val got = Layout.readWithDeletes(spark, dir, dv)
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    val want = spark.read.parquet(dir)
      .filter(!(col("v") === 3) && !(col("k") < 500))
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got === want)
  }

  test("empty DV returns the whole table") {
    val dir = writeTable(100)
    val dv = Layout.deletionVectors(spark, dir, lit(false))
    assert(Layout.readWithDeletes(spark, dir, dv).count() === 100L)
  }

  test("compactDeletes rewrites only threshold-crossing files; result exact") {
    val dir = writeTable(1000) // 4 range files on k: 0-249, 250-499, ...
    val out = dir + "-out"
    // dense deletes on k < 250 (first file ~100% deleted), sparse on
    // k % 101 == 0 elsewhere
    val pred = col("k") < 250 || col("k") % 101 === 0
    val dv = Layout.deletionVectors(spark, dir, pred)
      .localCheckpoint(eager = true)
    val before = fileDigests(dir)
    val residual = Layout.compactDeletes(spark, dir, out, dv,
        rewriteRatio = 0.5)
      .localCheckpoint(eager = true)
    // source untouched; cold files byte-copied under the same name
    assert(fileDigests(dir) === before)
    val outDigests = fileDigests(out)
    val coldNames = before.keySet.intersect(outDigests.keySet)
    assert(coldNames.nonEmpty, "expected byte-copied cold files")
    coldNames.foreach(n => assert(outDigests(n) === before(n)))
    // at least one file was rewritten (new spark-generated name)
    assert((outDigests.keySet -- before.keySet).nonEmpty)
    // residual DV addresses only the copied (cold) paths
    val resFiles = residual.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    assert(resFiles.forall(f => coldNames.exists(f.endsWith)))
    // merge-on-read over the compacted table equals the deleted table
    val got = Layout.readWithDeletes(spark, out, residual)
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    val want = spark.read.parquet(dir).filter(!pred)
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    assert(got === want)
  }

  private def liveRows(dir: String, dv: org.apache.spark.sql.DataFrame) =
    Layout.readWithDeletes(spark, dir, dv)
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq

  test("compactDeletes edge cases: all-cold keeps everything, all-hot rewrites all") {
    val dir = writeTable(400)
    // all-cold: sparse deletes below every threshold → pure copy
    val sparseDv = Layout.deletionVectors(spark, dir, col("k") === 7)
      .localCheckpoint(eager = true)
    val outCold = dir + "-cold"
    val resCold = Layout.compactDeletes(spark, dir, outCold, sparseDv, 0.5)
    assert(fileDigests(outCold) === fileDigests(dir))
    assert(Layout.readWithDeletes(spark, outCold, resCold).count() === 399L)
    assert(liveRows(outCold, resCold) === liveRows(dir, sparseDv))
    // all-hot: every file crosses the threshold → full rewrite, no DV left
    val denseDv = Layout.deletionVectors(spark, dir, col("k") % 2 === 0)
      .localCheckpoint(eager = true)
    val outHot = dir + "-hot"
    val resHot = Layout.compactDeletes(spark, dir, outHot, denseDv, 0.3)
    assert(resHot.count() === 0L)
    assert(fileDigests(outHot).keySet.intersect(fileDigests(dir).keySet).isEmpty)
    assert(Layout.readWithDeletes(spark, outHot, resHot).count() === 200L)
    assert(liveRows(outHot, resHot) === liveRows(dir, denseDv))
  }

  test("compactDeletes refuses a previously-used outDir (would double-count)") {
    val dir = writeTable(200)
    val out = dir + "-reuse"
    val dv = Layout.deletionVectors(spark, dir, col("k") % 2 === 0)
      .localCheckpoint(eager = true)
    Layout.compactDeletes(spark, dir, out, dv, 0.3)
    val e = intercept[IllegalArgumentException] {
      Layout.compactDeletes(spark, dir, out, dv, 0.3)
    }
    assert(e.getMessage.contains(out), "error must name the offending dir")
    // an existing-but-empty dir is fine (mkdirs-then-run is a normal shape)
    val empty = dir + "-empty"
    new java.io.File(empty).mkdirs()
    assert(Layout.readWithDeletes(spark, empty,
      Layout.compactDeletes(spark, dir, empty, dv, 0.3)).count() === 100L)
    // stale data hiding in a SUBDIRECTORY (partitioned leftovers) must
    // trip the guard too — partition discovery would sweep it up
    val nested = dir + "-nested"
    new java.io.File(nested, "date=2026-08-01").mkdirs()
    val e2 = intercept[IllegalArgumentException] {
      Layout.compactDeletes(spark, dir, nested, dv, 0.3)
    }
    assert(e2.getMessage.contains(nested))
  }

  private def rowsPerFile(dir: String): Map[String, Long] =
    spark.read.parquet(dir).groupBy(col("_metadata.file_name")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("compactDeletes rewrites a file whose deleted fraction is exactly rewriteRatio") {
    val dir = writeTable(400)
    // one file with exactly d / n == rewriteRatio rewrites (the test is
    // >=); the other files' sparser deletes stay below it and copy
    val counts = rowsPerFile(dir)
    val (first, n) = counts.minBy(_._1)
    val d = n / 4
    val firstKeys = spark.read.parquet(dir)
      .filter(col("_metadata.file_name") === first)
      .select(col("k")).as[Long].collect().sorted.take(d.toInt)
    val pred = col("k").isin(firstKeys: _*) || col("k") === 399L
    val dv = Layout.deletionVectors(spark, dir, pred).localCheckpoint(eager = true)
    val out = s"$dir-edge"
    val residual = Layout.compactDeletes(spark, dir, out, dv, d.toDouble / n)
    assert(liveRows(out, residual) === liveRows(dir, dv))
    val outNames = fileDigests(out).keySet
    assert(!outNames.contains(first), "the file at the ratio must be rewritten")
    assert((counts.keySet - first).subsetOf(outNames), "the others are copied")
    assert(residual.count() === 1L)
  }

  test("compactDeletes ignores DV rows naming files outside inDir, even same-named ones") {
    val dir = writeTable(400)
    // a byte copy of the table: every file name repeats outside inDir
    val twin = s"$dir-twin"
    new java.io.File(twin).mkdirs()
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        new java.io.File(twin, f.getName).toPath))
    val own = Layout.deletionVectors(spark, dir, col("k") % 50 === 0)
    val foreign = Layout.deletionVectors(spark, twin, col("k") < 200)
    val dv = own.unionAll(foreign).localCheckpoint(eager = true)
    val out = s"$dir-out"
    val residual = Layout.compactDeletes(spark, dir, out, dv, 0.5)
    assert(fileDigests(out) === fileDigests(dir), "nothing crosses the ratio")
    assert(liveRows(out, residual) === liveRows(dir, own))
    assert(residual.count() === own.count())
  }

  test("compactDeletes copies an untouched zero-row file") {
    val dir = writeTable(200)
    spark.range(0).select(col("id").as("k"), col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(dir)
    val zero = fileDigests(dir).keySet -- rowsPerFile(dir).keySet
    assert(zero.size === 1, "the fixture holds one zero-row file")
    val dv = Layout.deletionVectors(spark, dir, col("k") < 20).localCheckpoint(eager = true)
    val out = s"$dir-out"
    val residual = Layout.compactDeletes(spark, dir, out, dv, 0.05)
    assert(fileDigests(out)(zero.head) === fileDigests(dir)(zero.head))
    assert(liveRows(out, residual) === liveRows(dir, dv))
  }

  test("compactDeletes rewrites a hot file under its own schema, not the table's first file's") {
    val dir = writeTable(200)
    // a file written after an ADD carries a column the earlier files
    // lack; renamed to list last, so the table's first file predates it
    val added = s"$dir-added"
    spark.range(1000, 1100)
      .select(col("id").as("k"), (col("id") % 7).as("v"), (col("id") * 3).as("w"))
      .coalesce(1).write.parquet(added)
    val src = new java.io.File(added).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(src.toPath,
      new java.io.File(dir, "part-99999-added.snappy.parquet").toPath)
    assert(!spark.read.parquet(dir).columns.contains("w"))
    val dv = Layout.deletionVectors(spark, dir, col("k") >= 1000 && col("k") % 2 === 0)
      .localCheckpoint(eager = true)
    val out = s"$dir-out"
    val residual = Layout.compactDeletes(spark, dir, out, dv, 0.5)
    assert(residual.count() === 0L)
    val rewritten = (fileDigests(out).keySet -- fileDigests(dir).keySet).toSeq
    assert(rewritten.size === 1, "only the added file is hot")
    val got = spark.read.parquet(s"$out/${rewritten.head}")
      .select("k", "w").as[(Long, Long)].collect().sorted.toSeq
    assert(got === (1001L until 1100L by 2).map(k => (k, k * 3)))
  }

  test("compactDeletes splits the same past the parallel-discovery threshold") {
    val dir = writeTable(400)
    // one dense file (hot) and sparse deletes in the others (touched, cold)
    val first = rowsPerFile(dir).keys.min
    val dv = Layout.deletionVectors(spark, dir,
        (col("_metadata.file_name") === first && col("k") % 2 === 0) ||
          col("k") % 50 === 1)
      .localCheckpoint(eager = true)
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    def run(out: String) = {
      val residual = Layout.compactDeletes(spark, dir, out, dv, 0.4)
      (fileDigests(out).keySet.intersect(fileDigests(dir).keySet),
        residual.count(), liveRows(out, residual))
    }
    val driver = run(s"$dir-driver")
    // every touched file past the threshold: row counts come from a job
    spark.conf.set(key, "1")
    val distributed = try run(s"$dir-job") finally spark.conf.unset(key)
    assert(distributed === driver)
    assert(!driver._1.contains(first) && driver._2 > 0L)
    assert(driver._3 === liveRows(dir, dv))
  }

  test("DV upsert: pinned DV + append updates rows without touching files") {
    val dir = writeTable(500)
    val before = fileDigests(dir)
    val pred = col("v") === 3
    val dv = Layout.deletionVectors(spark, dir, pred)
      .localCheckpoint(eager = true) // pin BEFORE the append
    spark.read.parquet(dir).filter(pred)
      .withColumn("v", col("v") + 100L)
      .write.mode("append").parquet(dir)
    val got = Layout.readWithDeletes(spark, dir, dv)
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    val want = spark.range(500)
      .select(col("id").as("k"),
        when(col("id") % 7 === 3, col("id") % 7 + 100L)
          .otherwise(col("id") % 7).as("v"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got === want)
    // the original files are byte-identical — only NEW files appeared
    val after = fileDigests(dir)
    before.foreach { case (n, d) => assert(after(n) === d) }
    assert(after.size > before.size)
  }

  test("manifest-pruned key DVs: identical addresses, only intersecting files scanned") {
    val dir = writeTable(1000) // 4 range files of 250 keys each
    val manifest = Ckpt.pinned(Layout.statsManifest(spark, dir, Seq("k")))
    // the delete batch lives entirely in the first file's key span
    val keys = spark.range(10, 60).select(col("id").as("k"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("file"), col("pos")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val pruned = Layout.deletionVectorsForKeysPruned(
      spark, dir, manifest, keys, "k")
    val full = Layout.deletionVectorsForKeys(spark, dir, keys, "k")
    assert(canon(pruned) === canon(full) && pruned.count() === 50L)
    // the address-resolution prune is real: 1 of 4 files
    val touched = Layout.joinSkipFiles(manifest, keys, "k").collect()
    assert(touched.length === 1, s"expected 1 touched file, got $touched")
    // keys hitting no file's span resolve to an empty DV, zero scans
    val out = Layout.deletionVectorsForKeysPruned(spark, dir, manifest,
      spark.range(5000, 5010).select(col("id").as("k")), "k")
    assert(out.count() === 0L)
    assert(out.schema.fieldNames.toSeq === Seq("file", "pos"))
    // and the empty frame still unions with real DV batches
    assert(out.unionAll(pruned).count() === 50L)
  }

  test("grouped-manifest key DVs equal the unpruned addresses") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dvg").toString
    spark.range(4000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(16, col("k")) // 16 files, 4 groups of 4
      .write.mode("overwrite").parquet(s"$dir/t")
    val mf = s"$dir/mf"
    Layout.statsManifestPartitioned(spark, s"$dir/t", Seq("k"), mf,
      groupSize = 4L)
    // a key slab confined to one group's span + one scattered straggler
    val keys = spark.range(100, 200).select(col("id").as("k"))
      .unionAll(spark.range(3900, 3910).select(col("id").as("k")))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("file"), col("pos")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val grouped = Layout.deletionVectorsForKeysPruned(
      spark, s"$dir/t", Layout.Manifest.TwoLevel(mf), keys, "k")
    val full = Layout.deletionVectorsForKeys(spark, s"$dir/t", keys, "k")
    assert(canon(grouped) === canon(full) && grouped.count() === 110L)
    // out-of-span keys: empty frame with the DV schema
    val none = Layout.deletionVectorsForKeysPruned(spark, s"$dir/t",
      Layout.Manifest.TwoLevel(mf),
      spark.range(90000, 90005).select(col("id").as("k")), "k")
    assert(none.count() === 0L)
    assert(none.schema.fieldNames.toSeq === Seq("file", "pos"))
  }

  test("key-based DVs fold by plain union — duplicates and batch order are harmless") {
    val dir = writeTable(300)
    val keysAll = spark.range(0, 300, 5).select(col("id").as("k"))
    val b1 = keysAll.filter(col("k") < 150)
    val b2 = keysAll.filter(col("k") >= 100) // overlaps b1 (retries)
    def dvFor(keys: org.apache.spark.sql.DataFrame) =
      Layout.deletionVectorsForKeys(spark, dir, keys, "k")
    val foldedA = dvFor(b1).unionAll(dvFor(b2))
    val foldedB = dvFor(b2).unionAll(dvFor(b1)).unionAll(dvFor(b1)) // dup batch
    val want = spark.read.parquet(dir).filter(col("k") % 5 =!= 0)
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    for (dv <- Seq(foldedA, foldedB)) {
      val got = Layout.readWithDeletes(spark, dir, dv)
        .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
      assert(got === want)
    }
  }

  test("snapshotReadWithDeletes: versions are (manifest, DV) pairs, isolated") {
    val dir = writeTable(600)
    val m1 = Layout.statsManifest(spark, dir, Seq("k"))
      .localCheckpoint(eager = true)
    val dv1 = Layout.deletionVectors(spark, dir, col("v") === 3)
      .localCheckpoint(eager = true)
    // epoch 2 lands, plus a second delete wave spanning both epochs
    spark.range(600, 900).select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(2, col("k")).write.mode("append").parquet(dir)
    val m2 = Layout.extendManifest(spark, dir, m1, Seq("k"))
    val dv2 = dv1.unionAll(Layout.deletionVectors(spark, dir, col("v") === 5))
    def rows(m: org.apache.spark.sql.DataFrame,
        dv: org.apache.spark.sql.DataFrame) =
      Layout.snapshotReadWithDeletes(spark, dir, m, dv)
        .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    // v1: epoch-1 rows minus v==3 — epoch-2 rows invisible entirely
    assert(rows(m1, dv1) ===
      (0L until 600L).filter(_ % 7 != 3).map(k => (k, k % 7)).sorted)
    // v2: both epochs minus v==3 (epoch-1 addresses only!) minus v==5
    // everywhere — epoch-2 v==3 rows SURVIVE: DVs are addresses
    val want2 = ((0L until 600L).filter(k => k % 7 != 3 && k % 7 != 5) ++
      (600L until 900L).filter(_ % 7 != 5)).map(k => (k, k % 7)).sorted
    assert(rows(m2, dv2) === want2)
  }

  test("plan: broadcast anti join, no exchange on the base side") {
    val dir = writeTable(1000)
    val dv = Layout.deletionVectors(spark, dir, col("v") === 3)
      .localCheckpoint(eager = true) // freeze the DV as a side table
    val plan = Layout.readWithDeletes(spark, dir, dv)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected a broadcast anti join, got:\n$plan")
    // the scan side must reach the join without a shuffle: the only
    // exchange allowed in the whole plan is the broadcast one
    assert(!plan.contains("ShuffleExchange"),
      s"base side shuffled before the DV subtraction:\n$plan")
  }

  test("plan: pruned address resolution is shuffle-free (broadcast semi)") {
    val dir = writeTable(1000)
    val manifest = Ckpt.pinned(Layout.statsManifest(spark, dir, Seq("k")))
    val keys = spark.range(10, 60).select(col("id").as("k"))
      .localCheckpoint(eager = true)
    val plan = Layout.deletionVectorsForKeysPruned(
        spark, dir, manifest, keys, "k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected a broadcast semi join, got:\n$plan")
    assert(!plan.contains("ShuffleExchange"),
      s"address scan shuffled:\n$plan")
  }
}
