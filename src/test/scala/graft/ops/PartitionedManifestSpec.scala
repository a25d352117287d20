package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition tuples in manifests: statsManifest records `part_<col>`
  * per file for hive-partitioned tables, snapshotRead reconstructs the
  * partition columns through the zero-listing ManifestFileIndex plan,
  * partition filters prune partitions from the recorded tuples (no
  * directory listing), extendManifest descends into partition dirs and
  * records the new files' tuples, and partition pruning composes with
  * min/max stats pruning. */
class PartitionedManifestSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-pmanifest").toString

  /** id 0..199 partitioned by p = id % 4, 2 range-files per partition. */
  private def fixture(): (String, DataFrame) = {
    val root = freshDir()
    val t = s"$root/t"
    spark.range(200)
      .select(col("id"), (col("id") % 4).cast("int").as("p"))
      .repartitionByRange(2, col("id"))
      .write.partitionBy("p").parquet(t)
    (t, Layout.statsManifest(spark, t, Seq("id")))
  }

  private def scanExec(df: DataFrame) =
    df.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in the plan"))

  test("statsManifest records the partition tuple per file") {
    val (_, m) = fixture()
    assert(m.columns.contains("part_p"))
    assert(m.count() === 8)
    assert(m.filter(col("part_p").isNull || col("bytes").isNull).count() === 0)
    // the tuple matches the file's own directory
    val bad = m.collect().count { r =>
      !r.getAs[String]("file").contains(s"p=${r.getAs[Int]("part_p")}")
    }
    assert(bad === 0)
    // a partition column doubles as a stats column when asked for
    val (t2, _) = fixture()
    val m2 = Layout.statsManifest(spark, t2, Seq("id", "p"))
    assert(m2.filter(col("min_p") =!= col("max_p")).count() === 0)
    assert(m2.filter(col("min_p") =!= col("part_p")).count() === 0)
  }

  test("snapshotRead reconstructs partition columns zero-listing; values exact") {
    val (t, m) = fixture()
    val snap = Layout.snapshotRead(spark, t, m)
    assert(snap.columns.toSeq === Seq("id", "p"))
    // planned through the manifest index, partition schema intact
    val loc = scanExec(snap).relation.location
    assert(loc.isInstanceOf[graft.io.ManifestFileIndex])
    assert(loc.partitionSchema.fieldNames.toSeq === Seq("p"))
    // content identical to the root-dir read
    val full = spark.read.parquet(t)
    assert(snap.except(full).count() === 0 && full.except(snap).count() === 0)
    assert(snap.count() === 200)
  }

  test("a partition filter prunes partitions from recorded tuples") {
    val (t, m) = fixture()
    val q = Layout.snapshotRead(spark, t, m).filter(col("p") === 2)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 200L).filter(_ % 4 == 2))
    val exec = scanExec(q)
    assert(exec.metrics("numFiles").value === 2,
      s"partition pruning must keep 2 of 8 files, " +
        s"got ${exec.metrics("numFiles").value}")
  }

  test("partition pruning composes with min/max stats pruning") {
    val (t, m) = fixture()
    // stats prune on id + partition prune on p: manifest filter keeps
    // partition-2 files whose id span intersects [0, 99] — one file
    val admitted = m.filter(col("part_p") === 2 &&
      col("max_id") >= 0 && col("min_id") <= 99)
    assert(admitted.count() === 1)
    val r = Layout.snapshotRead(spark, t, admitted)
      .filter(col("id").between(0, 99))
    assert(r.inputFiles.length === 1)
    assert(r.collect().map(_.getLong(0)).sorted.toSeq ===
      (0L until 100L).filter(_ % 4 == 2))
  }

  test("extendManifest descends into partition dirs and records new tuples") {
    val (t, m) = fixture()
    spark.range(200, 240)
      .select(col("id"), (col("id") % 4).cast("int").as("p"))
      .coalesce(1)
      .write.mode("append").partitionBy("p").parquet(t)
    val m2 = Layout.extendManifest(spark, t, m, Seq("id"))
    assert(m2.count() === 12) // 8 original + 4 new (one per partition)
    assert(m2.filter(col("part_p").isNull).count() === 0)
    val snap = Layout.snapshotRead(spark, t, m2)
    assert(snap.count() === 240)
    assert(snap.filter(col("p") === 1).count() === 60)
    // the original manifest still reads the PRE-append snapshot
    assert(Layout.snapshotRead(spark, t, m).count() === 200)
    // extend ≡ rebuild
    val rebuilt = Layout.statsManifest(spark, t, Seq("id"))
    assert(m2.select("file").except(rebuilt.select("file")).count() === 0)
    assert(rebuilt.select("file").except(m2.select("file")).count() === 0)
  }

  test("grouped layout records partition tuples; pruned read reconstructs them") {
    val (t, _) = fixture()
    val root = freshDir()
    Layout.statsManifestPartitioned(spark, t, Seq("id"), s"$root/mf",
      groupSize = 3L)
    val filesTab = spark.read.parquet(s"$root/mf/files")
    assert(filesTab.columns.contains("part_p"))
    assert(filesTab.filter(col("part_p").isNull).count() === 0)
    val r = Layout.prunedRead(spark, t,
      Layout.Manifest.TwoLevel(s"$root/mf"), "id",
      lit(40L), lit(159L))
    assert(r.columns.toSeq === Seq("id", "p"))
    // zero-listing plan with the partition schema intact
    val loc = scanExec(r).relation.location
    assert(loc.isInstanceOf[graft.io.ManifestFileIndex])
    assert(loc.partitionSchema.fieldNames.toSeq === Seq("p"))
    // content and partition values exact vs the root-dir read
    val expect = spark.read.parquet(t).filter(col("id").between(40L, 159L))
    assert(r.except(expect).count() === 0 && expect.except(r).count() === 0)
    // a partition filter on the pruned read keeps only that partition
    assert(r.filter(col("p") === 1).count() ===
      (40L until 160L).count(_ % 4 == 1))
  }

  test("extendManifestGrouped records the new files' partition tuples") {
    val (t, _) = fixture()
    val root = freshDir()
    Layout.statsManifestPartitioned(spark, t, Seq("id"), s"$root/mf",
      groupSize = 3L)
    spark.range(200, 240)
      .select(col("id"), (col("id") % 4).cast("int").as("p"))
      .coalesce(1)
      .write.mode("append").partitionBy("p").parquet(t)
    Layout.extendManifestGrouped(spark, t, s"$root/mf", Seq("id"),
      groupSize = 3L)
    val filesTab = spark.read.parquet(s"$root/mf/files")
    assert(filesTab.count() === 12)
    assert(filesTab.filter(col("part_p").isNull).count() === 0)
    val r = Layout.prunedRead(spark, t,
      Layout.Manifest.TwoLevel(s"$root/mf"), "id",
      lit(190L), lit(239L))
    assert(r.columns.toSeq === Seq("id", "p"))
    assert(r.count() === 50)
    assert(r.filter(col("p") === 3).collect().map(_.getLong(0)).sorted
      .toSeq === (190L until 240L).filter(_ % 4 == 3))
  }

  test("listing fallback (unknown tuple) still keeps the partition column") {
    val (t, m) = fixture()
    // a legacy row with an unknown partition value forces the explicit-
    // path fallback; basePath must keep the partition column resolving
    val legacy = m.withColumn("part_p",
      when(col("file").contains("p=0"), lit(null).cast("int"))
        .otherwise(col("part_p")))
    val snap = Layout.snapshotRead(spark, t, legacy)
    assert(!scanExec(snap).relation.location
      .isInstanceOf[graft.io.ManifestFileIndex])
    assert(snap.columns.toSeq === Seq("id", "p"))
    assert(snap.count() === 200)
    assert(snap.filter(col("p") === 0).count() === 50)
  }

  test("DV subtraction composes with the partitioned zero-listing read") {
    val (t, m) = fixture()
    // delete every id ≡ 0 (mod 10): addresses from the table scan, the
    // anti-join must match the ManifestFileIndex scan's file_path
    // rendering (ManifestScanSpec pins the parity this relies on)
    val dv = Layout.deletionVectors(spark, t, col("id") % 10 === 0)
    val r = Layout.snapshotReadWithDeletes(spark, t, m, dv)
    assert(r.columns.toSeq === Seq("id", "p"))
    assert(r.count() === 180)
    assert(r.filter(col("id") % 10 === 0).count() === 0)
    // partition filter still prunes on the DV-subtracted read
    assert(r.filter(col("p") === 2).collect().map(_.getLong(0)).sorted
      .toSeq === (0L until 200L).filter(k => k % 4 == 2 && k % 10 != 0))
  }

  test("snapshotDiff between partitioned versions keeps the partition column") {
    val (t, m1) = fixture()
    spark.range(200, 240)
      .select(col("id"), (col("id") % 4).cast("int").as("p"))
      .coalesce(1).write.mode("append").partitionBy("p").parquet(t)
    val m2 = Layout.extendManifest(spark, t, m1, Seq("id"))
    val dv0 = Layout.deletionVectors(spark, t, lit(false))
      .localCheckpoint(eager = true)
    val dv1 = Layout.deletionVectors(spark, t,
      col("id") % 50 === 0 && col("id") < 200).localCheckpoint(eager = true)
    val diff = Layout.snapshotDiff(spark, t, m1, m2, dv0, dv1)
    assert(diff.columns.toSeq === Seq("id", "p", "_change_type"))
    val ins = diff.filter(col("_change_type") === "insert")
    assert(ins.count() === 40)
    assert(ins.filter(col("p") =!= col("id") % 4).count() === 0)
    val del = diff.filter(col("_change_type") === "delete")
      .select("id", "p").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(del.sorted.toSeq === Seq((0L, 0), (50L, 2), (100L, 0), (150L, 2)))
  }

  test("stream-copy maintenance refuses partitioned inputs; compact materializes") {
    val (t, _) = fixture()
    val out = freshDir()
    // byte-for-byte copies would silently drop partition values → loud
    val e = intercept[IllegalArgumentException] {
      Layout.compactSmall(spark, t, s"$out/cs", "id",
        targetRowsPerFile = 100L, minRowsPerFile = 10L)
    }
    assert(e.getMessage.contains("partitioned by p"))
    intercept[IllegalArgumentException] {
      Layout.mergeIntoLayout(spark, t, s"$out/ml",
        spark.range(5).select(col("id"), lit(false).as("is_delete")), "id")
    }
    // the full rewrite is the partitioned path: partition values are
    // materialized as a data column in the flat output
    Layout.compact(spark, t, s"$out/c", "id", targetRowsPerFile = 100L)
    val c = spark.read.parquet(s"$out/c")
    assert(c.count() === 200)
    assert(c.filter(col("p") =!= col("id") % 4).count() === 0)
  }

  test("bloom and join-skip probes keep the partition column (path-shape detection)") {
    val (t, m) = fixture()
    // bloomRead's index has no part_ tuples — partitioning is detected
    // from the admitted leaf paths (col=value parent dirs)
    val bi = Layout.bloomIndex(spark, t, "id").localCheckpoint(eager = true)
    val hit = Layout.bloomRead(spark, t, bi, "id", lit(42L))
    assert(hit.columns.toSeq === Seq("id", "p"))
    assert(hit.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ===
      Seq((42L, 2)))
    // join-skip read over the stats manifest: same schema as the scan
    val dim = spark.range(10, 14).toDF("id")
    val js = Layout.joinSkipRead(spark, t, Some(m), None, dim, "id")
    assert(js.columns.toSeq === Seq("id", "p"))
    val joined = js.join(dim, "id")
    assert(joined.count() === 4)
    assert(joined.filter(col("p") =!= col("id") % 4).count() === 0)
  }

  test("full OPTIMIZE z-order clusters a partitioned catalog; delta pass refuses") {
    val (t, m) = fixture()
    val root = freshDir()
    m.write.parquet(s"$root/m1")
    Catalog.commit(spark, s"$root/cat", Map("manifest" -> s"$root/m1"))
    // full rewrite: the snapshot reconstructs p, the new version
    // materializes it uniformly as a data column — partitioned in,
    // flat-clustered out, zero lost rows
    val v = Layout.optimizeZorder(spark, t, s"$root/cat", root,
      "id", "p", bits = 8, numFiles = 4, statsCols = Seq("id", "p"))
    val refs = Catalog.resolve(spark, s"$root/cat", v)
    val snap = Layout.snapshotRead(spark, t,
      spark.read.parquet(refs("manifest")))
    assert(snap.count() === 200)
    assert(snap.columns.toSeq.sorted === Seq("id", "p"))
    assert(snap.filter(col("p") =!= col("id") % 4).count() === 0)
    // the DELTA pass refuses a partitioned current version loudly:
    // base files in col=value dirs + flat rewritten delta files would
    // be a mixed layout no single read can plan
    val root2 = freshDir()
    val (t2, m2) = fixture()
    m2.write.parquet(s"$root2/m1")
    val v1 = Catalog.commit(spark, s"$root2/cat",
      Map("manifest" -> s"$root2/m1"))
    spark.range(200, 240)
      .select(col("id"), (col("id") % 4).cast("int").as("p"))
      .coalesce(1).write.mode("append").partitionBy("p").parquet(t2)
    Layout.extendManifest(spark, t2, m2, Seq("id"))
      .write.parquet(s"$root2/m2")
    Catalog.commit(spark, s"$root2/cat", Map("manifest" -> s"$root2/m2"))
    val e = intercept[IllegalArgumentException] {
      Layout.optimizeZorderDelta(spark, t2, s"$root2/cat", root2,
        v1, "id", "p", bits = 8, numFiles = 2, statsCols = Seq("id", "p"))
    }
    assert(e.getMessage.contains("optimizeZorderDelta cannot cluster"))
  }

  test("manifest parquet round-trip keeps the partitioned zero-listing plan") {
    val (t, m) = fixture()
    val root = freshDir()
    m.write.parquet(s"$root/m")
    val snap = Layout.snapshotRead(spark, t, spark.read.parquet(s"$root/m"))
    assert(scanExec(snap).relation.location
      .isInstanceOf[graft.io.ManifestFileIndex])
    assert(snap.filter(col("p") === 3).count() === 50)
  }
}
