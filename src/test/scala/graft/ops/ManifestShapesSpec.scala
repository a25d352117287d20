package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One read path over both manifest shapes: every manifest verb run
  * over the same table through its flat rows and through a two-level
  * layout (groupSize = 2, so at least four groups) must return the same
  * rows, counts and (file, pos) addresses as each other and as a plain
  * full scan — on a range-compacted table, a hive-partitioned table,
  * and layouts grown by extendManifest / extendManifestGrouped. */
class ManifestShapesSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._
  import Layout.Manifest

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-mshapes").toString

  /** One table with both manifest shapes over the same files. */
  private case class Shapes(dir: String, key: String, flat: DataFrame,
      root: String) {
    def both: Seq[(String, Manifest)] =
      Seq("flat" -> Manifest.Rows(flat), "two-level" -> Manifest.TwoLevel(root))
  }

  private def shapes(dir: String, key: String, root: String): Shapes = {
    Layout.statsManifestPartitioned(spark, dir, Seq(key), s"$root/mf",
      groupSize = 2L)
    Shapes(dir, key,
      Layout.statsManifest(spark, dir, Seq(key)).localCheckpoint(eager = true),
      s"$root/mf")
  }

  /** 1200 keys compacted into 12 range files. */
  private def compacted(): Shapes = {
    val root = freshDir()
    spark.range(1200).select(col("id").as("k"), (col("id") % 7).as("v"))
      .write.parquet(s"$root/raw")
    Layout.compact(spark, s"$root/raw", s"$root/t", "k", 100L)
    shapes(s"$root/t", "k", root)
  }

  /** 400 ids partitioned by p = id % 4, 3 range files per partition. */
  private def partitioned(): Shapes = {
    val root = freshDir()
    spark.range(400).select(col("id"), (col("id") % 4).cast("int").as("p"))
      .repartitionByRange(3, col("id"))
      .write.partitionBy("p").parquet(s"$root/t")
    shapes(s"$root/t", "id", root)
  }

  /** Even keys built into both shapes, then the odd keys appended as 6
    * new files and absorbed by each shape's incremental extend. */
  private def extended(): Shapes = {
    val root = freshDir()
    val dir = s"$root/t"
    def wave(parity: Int, files: Int): Unit =
      spark.range(1200).filter(col("id") % 2 === parity)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(files, col("k"))
        .write.mode("append").parquet(dir)
    wave(0, 8)
    val base = shapes(dir, "k", root)
    wave(1, 6)
    Layout.extendManifestGrouped(spark, dir, base.root, Seq("k"),
      groupSize = 2L)
    base.copy(flat = Layout.extendManifest(spark, dir, base.flat, Seq("k"))
      .localCheckpoint(eager = true))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def addresses(df: DataFrame): Set[(String, Long)] =
    df.select("file", "pos").as[(String, Long)].collect().toSet

  private def viaManifestIndex(df: DataFrame): Boolean = {
    val locs = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location
          case other => other
        }
    }
    locs.nonEmpty && locs.forall(_.isInstanceOf[graft.io.ManifestFileIndex])
  }

  private val ranges = Seq((150L, 449L), (0L, Long.MaxValue), (250L, 250L),
    (5000000L, 6000000L))

  /** Every unified verb agrees across the two shapes and with the full
    * scan: pruned read, pruned read with a DV, countRange, joinSkipRead
    * and DV address resolution. */
  private def sameAnswers(t: Shapes): Unit = {
    val nGroups = spark.read.parquet(s"${t.root}/groups").count()
    assert(nGroups >= 4, s"only $nGroups groups")
    val k = col(t.key)
    val full = spark.read.parquet(t.dir)
    val dv = Layout.deletionVectors(spark, t.dir, k % 3 === 0)
      .localCheckpoint(eager = true)
    for ((lo, hi) <- ranges; (shape, m) <- t.both) {
      val in = k >= lo && k <= hi
      val what = s"$shape [$lo, $hi]"
      assert(rows(Layout.prunedRead(spark, t.dir, m, t.key, lit(lo), lit(hi)))
        === rows(full.filter(in)), what)
      assert(rows(Layout.prunedReadWithDeletes(spark, t.dir, m, t.key,
          lit(lo), lit(hi), dv)) === rows(full.filter(in && k % 3 =!= 0)),
        s"$what with deletes")
      assert(Layout.countRange(spark, t.dir, m, t.key, lit(lo), lit(hi))
        === full.filter(in).count(), s"$what count")
    }
    val keys = Seq(3L, 4L, 151L, 700L, 1199L, 9999999L).toDF(t.key)
    val none = Seq(9999999L).toDF(t.key)
    val expectAddrs =
      addresses(Layout.deletionVectorsForKeys(spark, t.dir, keys, t.key))
    assert(expectAddrs.nonEmpty)
    for ((shape, m) <- t.both) {
      val js = Layout.joinSkipRead(spark, t.dir, Some(m), None, keys, t.key)
      assert(viaManifestIndex(js), s"$shape joinSkipRead listed files")
      assert(js.inputFiles.length < full.inputFiles.length, shape)
      assert(rows(js.join(keys, Seq(t.key))) ===
        rows(full.join(keys, Seq(t.key))), s"$shape joinSkipRead")
      assert(addresses(Layout.deletionVectorsForKeysPruned(spark, t.dir, m,
        keys, t.key)) === expectAddrs, s"$shape DV addresses")
      val empty = Layout.deletionVectorsForKeysPruned(spark, t.dir, m, none,
        t.key)
      assert(empty.count() === 0L && empty.columns.toSeq === Seq("file", "pos"),
        s"$shape out-of-span DV")
    }
  }

  test("flat and two-level manifests answer alike on a compacted table") {
    sameAnswers(compacted())
  }

  test("flat and two-level manifests answer alike on a hive-partitioned table") {
    val t = partitioned()
    sameAnswers(t)
    // partition columns come back through both shapes
    for ((_, m) <- t.both)
      assert(Layout.prunedRead(spark, t.dir, m, "id", lit(0L), lit(9L))
        .columns.toSeq === Seq("id", "p"))
  }

  test("flat and two-level manifests answer alike after incremental extends") {
    val t = extended()
    assert(spark.read.parquet(s"${t.root}/files").count() === 14L)
    assert(t.flat.count() === 14L)
    sameAnswers(t)
  }

  test("prunedReadNotNull and manifest-backed joinSkipRead plan zero-listing") {
    val t = compacted()
    val nn = Layout.prunedReadNotNull(spark, t.dir, t.flat, "k")
    assert(viaManifestIndex(nn))
    assert(nn.count() === 1200L)
    val keys = Seq(5L, 6L).toDF("k")
    for ((shape, m) <- t.both)
      assert(viaManifestIndex(
        Layout.joinSkipRead(spark, t.dir, Some(m), None, keys, "k")), shape)
  }
}
