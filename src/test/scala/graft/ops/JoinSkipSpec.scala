package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout.joinSkipFiles / joinSkipFilesBloom / joinSkipRead: join-driven
  * dynamic file skipping. The dim side's key set prunes the fact scan to
  * the files that can hold a match; the join over the pruned read must be
  * row-identical to the join over the full scan (no false negatives), and
  * on a selective dim the admitted set must be a strict subset. */
class JoinSkipSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-jskip-$tag").toString

  /** fact(k, payload) in 8 files range-clustered by k over [0, 4000). */
  private def clusteredFact(): String = {
    val dir = freshDir("fact")
    spark.range(4000)
      .select(col("id").as("k"), (col("id") % 13).as("payload"))
      .repartitionByRange(8, col("k"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** fact clustered by an UNRELATED column — k is scattered everywhere,
    * so range stats on k are useless and only the bloom can skip. */
  private def scatteredFact(): String = {
    val dir = freshDir("scat")
    spark.range(4000)
      .select((col("id") * 2654435761L % 4000L).as("k"),
        col("id").as("other"), (col("id") % 13).as("payload"))
      .repartitionByRange(8, col("other"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("joinSkipFiles: range admission is a strict subset and the join is lossless") {
    val dir = clusteredFact()
    val m = Layout.statsManifest(spark, dir, Seq("k"))
      .localCheckpoint(eager = true)
    // dim keys land in two narrow clusters -> at most 2-3 of 8 files
    val dim = Seq((100L, "a"), (110L, "b"), (3900L, "c"))
      .toDF("k", "tag")
    val admitted = Layout.joinSkipFiles(m, dim, "k")
      .collect().map(_.getString(0)).toSet
    assert(admitted.nonEmpty && admitted.size < 8,
      s"expected a strict subset of 8 files, got ${admitted.size}")
    val pruned = Layout
      .joinSkipRead(spark, dir, Some(m), None, dim, "k")
      .join(dim, Seq("k"))
    val full = spark.read.parquet(dir).join(dim, Seq("k"))
    assert(pruned.orderBy("k").collect().toSeq
      === full.orderBy("k").collect().toSeq)
    assert(pruned.count() === 3)
  }

  test("joinSkipFiles: all-null-stats files drop out, null dim keys admit nothing") {
    val dir = freshDir("nulls")
    spark.range(100)
      .select(when(col("id") < 50, col("id")).as("k"), col("id").as("v"))
      .repartitionByRange(2, col("id")) // file 2 holds only null k
      .write.mode("overwrite").parquet(dir)
    val m = Layout.statsManifest(spark, dir, Seq("k"))
      .localCheckpoint(eager = true)
    val dim = Seq(Some(10L), None).toDF("k")
    val admitted = Layout.joinSkipFiles(m, dim, "k")
      .collect().map(_.getString(0))
    assert(admitted.length === 1) // only the non-null file's range matches
    val pruned = Layout.joinSkipRead(spark, dir, Some(m), None, dim, "k")
      .join(dim, Seq("k"))
    assert(pruned.count() === 1) // null never equi-joins
  }

  test("joinSkipFilesBloom: skips under adverse clustering, never loses a match") {
    val dir = scatteredFact()
    val idx = Layout.bloomIndexSized(spark, dir, "k")
      .localCheckpoint(eager = true)
    // one rare key: with 500 rows/file each file holds ~1/8 of the key
    // domain, so a single key lives in very few files
    val dim = Seq((2654435761L % 4000L, "x")).toDF("k", "tag")
    val admitted = Layout.joinSkipFilesBloom(idx, dim, "k")
      .collect().map(_.getString(0)).toSet
    assert(admitted.nonEmpty && admitted.size < 8,
      s"bloom admitted ${admitted.size} of 8 files for one key")
    val pruned = Layout.joinSkipRead(spark, dir, None, Some(idx), dim, "k")
      .join(dim, Seq("k"))
    val full = spark.read.parquet(dir).join(dim, Seq("k"))
    assert(pruned.orderBy("payload").collect().toSeq
      === full.orderBy("payload").collect().toSeq)
  }

  test("joinSkipFilesBloom refuses a plain (non-self-describing) index") {
    val dir = scatteredFact()
    val plain = Layout.bloomIndex(spark, dir, "k")
    val dim = Seq(1L).toDF("k")
    val e = intercept[IllegalArgumentException] {
      Layout.joinSkipFilesBloom(plain, dim, "k")
    }
    assert(e.getMessage.contains("_graft_bloom_meta"))
  }

  test("grouped-manifest join skip ≡ flat admission; rollup prunes groups first") {
    val dir = clusteredFact()
    val root = freshDir("grp")
    val flat = Layout.statsManifest(spark, dir, Seq("k"))
      .localCheckpoint(eager = true)
    Layout.statsManifestPartitioned(spark, dir, Seq("k"), s"$root/mf",
      groupSize = 2)
    val dim = Seq((100L, "a"), (110L, "b"), (3900L, "c")).toDF("k", "tag")
    val flatFiles = Layout.joinSkipFiles(flat, dim, "k")
      .collect().map(_.getString(0)).toSet
    val grouped = Some(Layout.Manifest.TwoLevel(s"$root/mf"))
    val grpRead = Layout.joinSkipRead(spark, dir, grouped, None, dim, "k")
    assert(grpRead.inputFiles.toSet === flatFiles)
    val pruned = grpRead.join(dim, Seq("k"))
    val full = spark.read.parquet(dir).join(dim, Seq("k"))
    assert(pruned.orderBy("k").collect().toSeq
      === full.orderBy("k").collect().toSeq)
    // empty dim: zero groups survive, the read is the empty slice
    assert(Layout.joinSkipRead(spark, dir, grouped, None,
      dim.filter(col("k") < 0), "k").count() === 0)
  }

  test("joinSkipRead intersects range and bloom evidence; empty dim reads nothing") {
    val dir = clusteredFact()
    val m = Layout.statsManifest(spark, dir, Seq("k"))
      .localCheckpoint(eager = true)
    val idx = Layout.bloomIndexSized(spark, dir, "k")
      .localCheckpoint(eager = true)
    val dim = Seq((7L, "a"), (3999L, "b")).toDF("k", "tag")
    val both = Layout.joinSkipRead(spark, dir, Some(m), Some(idx), dim, "k")
    val rangeOnly = Layout.joinSkipRead(spark, dir, Some(m), None, dim, "k")
    assert(both.inputFiles.length <= rangeOnly.inputFiles.length)
    assert(both.join(dim, Seq("k")).count() === 2)
    // empty dim: nothing can join, the read must be the empty slice
    val none = Layout.joinSkipRead(spark, dir, Some(m), None,
      dim.filter(col("k") < 0), "k")
    assert(none.count() === 0)
    // neither index supplied is a contract violation
    intercept[IllegalArgumentException] {
      Layout.joinSkipRead(spark, dir, None, None, dim, "k")
    }
  }
}
