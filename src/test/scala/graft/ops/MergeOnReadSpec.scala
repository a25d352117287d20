package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout.mergeOnReadCommit: MERGE INTO without rewriting a single base
  * file — matched rows tombstone via DV addresses, upserts append, one
  * atomic catalog version. The snapshot read after the commit must equal
  * Merge.applyChanges over the previous live snapshot. */
class MergeOnReadSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-mor-$tag").toString

  /** Seed a catalog'd table: 1000 keyed rows in 4 range-clustered files. */
  private def seed(): (String, String, String) = {
    val root = freshDir("seed")
    val (data, cat, art) = (s"$root/t", s"$root/cat", s"$root/art")
    spark.range(1000)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k"))
      .write.parquet(data)
    Layout.statsManifest(spark, data, Seq("k")).write.parquet(s"$root/m0")
    Catalog.commit(spark, cat, Map("manifest" -> s"$root/m0"))
    (data, cat, art)
  }

  private def live(data: String, cat: String, version: Int) = {
    val refs = Catalog.resolve(spark, cat, version)
    val m = spark.read.parquet(refs("manifest"))
    refs.get("dv") match {
      case Some(d) => Layout.snapshotReadWithDeletes(spark, data, m,
        spark.read.parquet(d))
      case None => Layout.snapshotRead(spark, data, m)
    }
  }

  test("merge wave ≡ applyChanges; base files untouched; version atomic") {
    val (data, cat, art) = seed()
    val before = live(data, cat, 1).localCheckpoint(eager = true)
    val baseFiles = spark.read.parquet(data).inputFiles.toSet
    // update k∈[0,10), delete k∈[500,505), insert k∈[5000,5010)
    val changes = (
      (0L until 10L).map(k => (k, k * 10 + 1, false)) ++
      (500L until 505L).map(k => (k, 0L, true)) ++
      (5000L until 5010L).map(k => (k, k, false))
    ).toDF("k", "v", "is_delete")
    val v2 = Layout.mergeOnReadCommit(spark, data, cat, art, changes,
      "k", "is_delete", Seq("k"))
    val expected = Merge.applyChanges(before, changes, "k")
    val got = live(data, cat, v2)
    assert(got.orderBy("k").collect().toSeq
      === expected.orderBy("k").collect().toSeq)
    assert(got.count() === 1005) // 1000 - 5 deleted + 10 inserted
    // merge-on-read: every pre-merge base file still present, unrewritten
    assert(baseFiles.subsetOf(spark.read.parquet(data).inputFiles.toSet))
    // DV addresses point only at files whose span held matched keys:
    // keys 0-9 and 500-504 live in the first two of four range files
    val dv = spark.read.parquet(Catalog.resolve(spark, cat, v2)("dv"))
    val dvFiles = dv.select("file").distinct().collect()
      .map(_.getString(0)).toSet
    assert(dvFiles.size <= 2, s"DV touched ${dvFiles.size} files")
  }

  test("waves compose: two sequential merges ≡ folded applyChanges") {
    val (data, cat, art) = seed()
    val s0 = live(data, cat, 1).localCheckpoint(eager = true)
    val w1 = Seq((1L, 111L, false), (2L, 0L, true)).toDF("k", "v", "is_delete")
    val w2 = Seq((1L, 222L, false), (2L, 20L, false), (999L, 0L, true))
      .toDF("k", "v", "is_delete")
    val v2 = Layout.mergeOnReadCommit(spark, data, cat, art, w1, "k",
      "is_delete", Seq("k"))
    val v3 = Layout.mergeOnReadCommit(spark, data, cat, art, w2, "k",
      "is_delete", Seq("k"))
    assert(v3 === v2 + 1)
    val expected =
      Merge.applyChanges(Merge.applyChanges(s0, w1, "k"), w2, "k")
    assert(live(data, cat, v3).orderBy("k").collect().toSeq
      === expected.orderBy("k").collect().toSeq)
  }

  test("insert-only wave commits without a dv artifact") {
    val (data, cat, art) = seed()
    val ins = Seq((7777L, 1L, false)).toDF("k", "v", "is_delete")
    val v2 = Layout.mergeOnReadCommit(spark, data, cat, art, ins, "k",
      "is_delete", Seq("k"))
    assert(!Catalog.resolve(spark, cat, v2).contains("dv"))
    assert(live(data, cat, v2).count() === 1001)
  }

  test("grouped merge ≡ applyChanges; the two-level manifest absorbs upserts") {
    val root = freshDir("grp")
    val data = s"$root/t"
    spark.range(1000)
      .select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("k")).write.parquet(data)
    Layout.statsManifestPartitioned(spark, data, Seq("k"), s"$root/mf",
      groupSize = 2)
    val before = spark.read.parquet(data).localCheckpoint(eager = true)
    val changes = Seq((5L, 555L, false), (6L, 0L, true), (2000L, 7L, false))
      .toDF("k", "v", "is_delete")
    val dv = Layout.mergeOnReadGrouped(spark, data, s"$root/mf", None,
      changes, "k", "is_delete", Seq("k"), groupSize = 2)
    val filesTab = spark.read.parquet(s"$root/mf/files")
    val got = Layout.snapshotReadWithDeletes(spark, data, filesTab, dv)
    val expected = Merge.applyChanges(before, changes, "k")
    assert(got.orderBy("k").collect().toSeq
      === expected.orderBy("k").collect().toSeq)
    // the manifest grew by exactly the upsert commit's files, and the
    // rollup still serves pruned reads over old AND new keys
    assert(filesTab.count() > 4)
    assert(Layout.prunedReadWithDeletes(spark, data,
      Layout.Manifest.TwoLevel(s"$root/mf"),
      "k", lit(2000L), lit(2000L), dv).count() === 1)
    assert(Layout.prunedReadWithDeletes(spark, data,
      Layout.Manifest.TwoLevel(s"$root/mf"),
      "k", lit(6L), lit(6L), dv).count() === 0)
  }

  test("txnId replay returns the same version and appends no new files") {
    val (data, cat, art) = seed()
    val w = Seq((3L, 33L, false)).toDF("k", "v", "is_delete")
    val v2 = Layout.mergeOnReadCommit(spark, data, cat, art, w, "k",
      "is_delete", Seq("k"), txnId = Some("batch-0"))
    val filesAfter = spark.read.parquet(data).inputFiles.length
    val replay = Layout.mergeOnReadCommit(spark, data, cat, art, w, "k",
      "is_delete", Seq("k"), txnId = Some("batch-0"))
    assert(replay === v2)
    assert(spark.read.parquet(data).inputFiles.length === filesAfter,
      "replayed merge must not re-append data files")
  }
}
