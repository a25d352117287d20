package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout.statsManifest / prunedRead: the manifest carries exact
  * per-file min/max, the pruned read SKIPS files whose range cannot
  * match, and the surviving result is exactly the full-scan filter. */
class DataSkippingSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-layout-$tag").toString

  private def sortedLayout(n: Long, rowsPerFile: Long): String = {
    val raw = freshDir("raw")
    val out = freshDir("sorted")
    spark.range(n).select(col("id").as("k"), (col("id") % 7).as("v"))
      .write.mode("overwrite").parquet(raw)
    Layout.compact(spark, raw, out, "k", rowsPerFile)
    out
  }

  test("countRange: fully-contained files answer from metadata, straddlers scan, nulls subtract") {
    val dir = sortedLayout(1000, 250) // 4 files: [0,249][250,499][500,749][750,999]
    val m = Layout.statsManifest(spark, dir, Seq("k"))
      .localCheckpoint(eager = true)
    // spans two full files + two boundary files
    assert(Layout.countRange(spark, dir, m, "k", lit(100L), lit(899L))
      === 800L)
    // exactly one full file
    assert(Layout.countRange(spark, dir, m, "k", lit(250L), lit(499L))
      === 250L)
    // disjoint below and above
    assert(Layout.countRange(spark, dir, m, "k", lit(-10L), lit(-1L)) === 0L)
    assert(Layout.countRange(spark, dir, m, "k", lit(5000L), lit(6000L))
      === 0L)
    // whole-table span: zero straddlers, pure metadata
    assert(Layout.countRange(spark, dir, m, "k", lit(0L), lit(999L))
      === 1000L)
    // nulls never satisfy a range: a fully-contained file with nulls
    // contributes n_rows − nulls exactly
    val nd = freshDir("nulls")
    spark.range(100).select(col("id"),
        when(col("id") % 10 === 0, lit(null).cast("long"))
          .otherwise(col("id")).as("k"))
      .repartitionByRange(2, col("id"))
      .write.parquet(s"$nd/t")
    val nm = Layout.statsManifest(spark, s"$nd/t", Seq("k"))
      .localCheckpoint(eager = true)
    assert(Layout.countRange(spark, s"$nd/t", nm, "k", lit(0L), lit(99L))
      === 90L)
  }

  test("bloomIndexSized: self-described sizes round-trip build, read, extend, register") {
    val root = freshDir("bsz")
    val t = s"$root/t"
    spark.range(2000).select(col("id"),
        ((col("id") * 2654435761L) % 1000000L).as("u"))
      .repartitionByRange(4, col("id"))
      .write.parquet(t)
    val idx = Layout.bloomIndexSized(spark, t, "u")
    idx.write.parquet(s"$root/idx")
    val loaded = spark.read.parquet(s"$root/idx")
    val meta = Layout.bloomMeta(loaded)
    assert(meta.isDefined && meta.get._2 == 3)
    assert(meta.get._1 >= 4096 && Integer.bitCount(meta.get._1) == 1)
    // lossless read: probe sizes come from the sentinel
    val probeU = (137L * 2654435761L) % 1000000L
    def bloomProbe(index: org.apache.spark.sql.DataFrame, v: Long): Seq[Long] =
      Layout.joinSkipRead(spark, t, None, Some(index), Seq(v).toDF("u"), "u")
        .filter(col("u") === v).select("id").as[Long].collect().toSeq
    assert(bloomProbe(loaded, probeU) == Seq(137L))
    // a plain index refuses the self-describing path instead of
    // probing lossily
    val plain = Layout.bloomIndex(spark, t, "u")
    intercept[IllegalArgumentException] {
      bloomProbe(plain, probeU)
    }
    // extension with the recorded sizes preserves the sentinel and
    // equals a rebuild
    spark.range(2000, 2500).select(col("id"),
        ((col("id") * 2654435761L) % 1000000L).as("u"))
      .repartitionByRange(1, col("id"))
      .write.mode("append").parquet(t)
    val ext = Layout.extendBloomIndex(spark, t, loaded, "u",
      meta.get._1, meta.get._2)
    assert(Layout.bloomMeta(ext) == meta)
    val probe2 = (2250L * 2654435761L) % 1000000L
    assert(bloomProbe(ext, probe2) == Seq(2250L))
    // the prune rule's self registration probes with the build's sizes
    Layout.statsManifest(spark, t, Seq("id")).write.parquet(s"$root/m")
    Catalog.commit(spark, s"$root/cat", Map("manifest" -> s"$root/m"))
    graft.plans.ScanPruneRewrite.registerFromCatalog(spark, "bsz", t,
      s"$root/cat")
    try {
      graft.plans.ScanPruneRewrite.registerBloomsSelf(spark, "bsz", "u",
        ext)
      val q = Layout.snapshotRead(spark, t,
          spark.read.parquet(s"$root/m"))
        .filter(col("u") === probeU)
      q.queryExecution.optimizedPlan
      val nRoots = q.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.size
            case _ => 0
          }
      }.sum
      assert(nRoots < 5, s"self-registered bloom should prune: $nRoots")
      assert(q.select("id").as[Long].collect().toSeq == Seq(137L))
    } finally graft.plans.ScanPruneRewrite.unregister("bsz")
  }

  test("countRangeGrouped equals the flat hybrid count through group pruning") {
    val dir = sortedLayout(1000, 100) // 10 files, ~100 rows each
    val root = freshDir("mf")
    Layout.statsManifestPartitioned(spark, dir, Seq("k"), root,
      groupSize = 3)
    val flat = Layout.statsManifest(spark, dir, Seq("k"))
      .localCheckpoint(eager = true)
    for ((lo, hi) <- Seq((150L, 449L), (0L, 999L), (5000L, 6000L),
        (250L, 250L))) {
      assert(Layout.countRange(spark, dir, Layout.Manifest.TwoLevel(root),
          "k", lit(lo), lit(hi)) ===
        Layout.countRange(spark, dir, flat, "k", lit(lo), lit(hi)),
        s"grouped != flat for [$lo, $hi]")
    }
    assert(Layout.countRange(spark, dir, Layout.Manifest.TwoLevel(root),
      "k", lit(150L), lit(449L)) === 300L)
  }

  test("manifest rows cover every file; min/max/count are exact") {
    val dir = sortedLayout(1000, 250)
    val m = Layout.statsManifest(spark, dir, Seq("k")).collect()
    assert(m.map(_.getAs[Long]("n_rows")).sum === 1000L)
    assert(m.map(_.getAs[Long]("min_k")).min === 0L)
    assert(m.map(_.getAs[Long]("max_k")).max === 999L)
    // range-compacted files have non-overlapping [min, max] intervals
    val spans = m.map(r => (r.getAs[Long]("min_k"), r.getAs[Long]("max_k")))
      .sortBy(_._1)
    spans.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _                         =>
    }
  }

  test("pruned read equals the full-scan filter and skips files") {
    val dir = sortedLayout(1000, 100)
    val manifest = Layout.statsManifest(spark, dir, Seq("k"))
    val nTotal = manifest.count()
    val nKept = manifest
      .filter(col("max_k") >= 120L && col("min_k") <= 180L).count()
    assert(nKept < nTotal, s"expected pruning, kept $nKept of $nTotal files")
    val pruned = Layout.prunedRead(spark, dir, manifest, "k",
        lit(120L), lit(180L))
      .select("k", "v").as[(Long, Long)].collect().sorted
    val full = spark.read.parquet(dir)
      .filter(col("k").between(120L, 180L))
      .select("k", "v").as[(Long, Long)].collect().sorted
    assert(pruned.toSeq === full.toSeq)
  }

  test("a range beyond the data returns empty with the data schema") {
    val dir = sortedLayout(100, 50)
    val manifest = Layout.statsManifest(spark, dir, Seq("k"))
    val out = Layout.prunedRead(spark, dir, manifest, "k",
      lit(5000L), lit(6000L))
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("k", "v"))
  }

  test("snapshotRead: a pinned manifest excludes later appends (time travel)") {
    val dir = freshDir("tt")
    spark.range(0, 100).select(col("id").as("k"), (col("id") % 7).as("v"))
      .write.mode("overwrite").parquet(dir)
    val v1 = Layout.statsManifest(spark, dir, Seq("k"))
      .localCheckpoint(eager = true)
    spark.range(100, 250).select(col("id").as("k"), (col("id") % 7).as("v"))
      .write.mode("append").parquet(dir)
    val v2 = Layout.extendManifest(spark, dir, v1, Seq("k"))
    // AS OF v1: exactly the pre-append rows; AS OF v2: everything
    val s1 = Layout.snapshotRead(spark, dir, v1)
    assert(s1.count() === 100L)
    assert(s1.agg(max("k")).head().getLong(0) === 99L)
    assert(Layout.snapshotRead(spark, dir, v2).count() === 250L)
    // an empty manifest is an empty (schema-correct) snapshot
    val empty = Layout.snapshotRead(spark, dir, v1.filter(lit(false)))
    assert(empty.count() === 0L && empty.columns.toSeq === Seq("k", "v"))
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    val dir = freshDir("dynover")
    spark.range(400)
      .select(col("id").as("k"), (col("id") % 4).as("p"), (col("id") * 2).as("v"))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    def partDigests(p: Long): Map[String, String] =
      new java.io.File(dir, s"p=$p").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          f.getName -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
    val before = (0L to 3L).map(p => p -> partDigests(p)).toMap
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.range(400).filter(col("id") % 4 === 1)
      .select(col("id").as("k"), (col("id") % 4).as("p"), (col("id") * 10).as("v"))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    // untouched partitions keep their exact files; p=1 was replaced
    for (p <- Seq(0L, 2L, 3L)) assert(partDigests(p) === before(p))
    assert(partDigests(1L) !== before(1L))
    val got = spark.read.parquet(dir)
      .select("k", "v").as[(Long, Long)].collect().sorted.toSeq
    val want = (0L until 400L).map(k =>
      (k, if (k % 4 == 1) k * 10 else k * 2)).sorted
    assert(got === want)
  }

  test("prunedReadNotNull skips all-null files, losslessly") {
    val dir = freshDir("nulls")
    spark.range(900)
      .select(col("id").as("k"),
        when(col("id") % 3 === 0, col("id") * 2).as("sv"))
      .withColumn("has", col("sv").isNotNull)
      .repartitionByRange(6, col("has"), col("k"))
      .drop("has")
      .write.mode("overwrite").parquet(dir)
    val m = Layout.statsManifest(spark, dir, Seq("sv"))
      .localCheckpoint(eager = true)
    // the null-clustered layout produced genuinely all-null files
    val nAllNull = m.filter(col("nulls_sv") === col("n_rows")).count()
    assert(nAllNull > 0, "fixture must contain all-null files")
    val got = Layout.prunedReadNotNull(spark, dir, m, "sv")
      .select("k", "sv").as[(Long, Long)].collect().sorted.toSeq
    val want = spark.read.parquet(dir).filter(col("sv").isNotNull)
      .select("k", "sv").as[(Long, Long)].collect().sorted.toSeq
    assert(got === want && got.nonEmpty)
    // null counts are exact per file
    assert(m.agg(org.apache.spark.sql.functions.sum("nulls_sv")).head.getLong(0)
      === 600L)
  }

  test("zero-row files are tracked: manifest entry, stable extend, vacuum-safe") {
    val dir = freshDir("zero")
    // a schema-seed write: one zero-row parquet file, then real data
    spark.range(0).select(col("id").as("k"), (col("id") % 7).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val m0 = Layout.statsManifest(spark, dir, Seq("k"))
    assert(m0.count() === 1L, "the seed file must appear in the manifest")
    val seed = m0.head()
    assert(seed.getAs[Long]("n_rows") === 0L)
    assert(seed.isNullAt(seed.fieldIndex("min_k")))
    spark.range(100).select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(2, col("k"))
      .write.mode("append").parquet(dir)
    val m1 = Layout.extendManifest(spark, dir, m0, Seq("k"))
      .localCheckpoint(eager = true)
    assert(m1.count() === 3L)
    // the seed file is KNOWN now — a further extend is the identity
    // (before this fix it was re-listed as "new" on every refresh)
    assert(Layout.extendManifest(spark, dir, m1, Seq("k")).count() === 3L)
    // and extend equals a rebuild, zero-row entry included
    val rebuilt = Layout.statsManifest(spark, dir, Seq("k"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (new org.apache.hadoop.fs.Path(r.getAs[String]("file"))
        .toUri.getPath, r.getAs[Long]("n_rows"))).toSet
    assert(canon(m1) === canon(rebuilt))
    // vacuum keeps the seed file: it belongs to the table
    val (deleted, kept) = Layout.vacuumOrphans(spark, dir, Seq(m1))
    assert(deleted === 0 && kept === 3)
    // pruning still skips it losslessly (null min/max never match)
    val got = Layout.prunedRead(spark, dir, m1, "k", lit(10L), lit(20L)).count()
    assert(got === 11L)
  }

  test("legacy manifest without nulls_ columns: extend upgrades, notnull-read stays lossless") {
    val dir = freshDir("legacy")
    spark.range(90)
      .select(col("id").as("k"),
        when(col("id") % 3 === 0, col("id") * 2).as("sv"))
      .repartitionByRange(3, col("k"))
      .write.mode("overwrite").parquet(dir)
    // a manifest persisted before the nulls_ statistic existed
    val legacy = Layout.statsManifest(spark, dir, Seq("sv")).drop("nulls_sv")
      .localCheckpoint(eager = true)
    spark.range(90, 120)
      .select(col("id").as("k"),
        when(col("id") % 3 === 0, col("id") * 2).as("sv"))
      .write.mode("append").parquet(dir)
    val upgraded = Layout.extendManifest(spark, dir, legacy, Seq("sv"))
      .localCheckpoint(eager = true)
    assert(upgraded.columns.contains("nulls_sv"))
    // legacy rows carry NULL (unknown) null-counts; fresh rows are exact
    assert(upgraded.filter(col("nulls_sv").isNull).count() === 3L)
    // unknown null-counts must be unskippable — the read stays lossless
    val got = Layout.prunedReadNotNull(spark, dir, upgraded, "sv")
      .select("k").as[Long].collect().sorted.toSeq
    val want = spark.read.parquet(dir).filter(col("sv").isNotNull)
      .select("k").as[Long].collect().sorted.toSeq
    assert(got === want && got.nonEmpty)
    // a genuinely different stats column still fails, and names the skew
    val e = intercept[IllegalArgumentException] {
      Layout.extendManifest(spark, dir,
        legacy.withColumnRenamed("min_sv", "min_other")
          .withColumnRenamed("max_sv", "max_other"), Seq("sv"))
    }
    assert(e.getMessage.contains("min_sv"))
    // the NARROWING direction must also fail loudly: extending a
    // two-column manifest with one column would silently project away
    // the second column's stats — data a later prunedRead depends on
    val wide = Layout.statsManifest(spark, dir, Seq("sv", "k"))
      .localCheckpoint(eager = true)
    spark.range(120, 150)
      .select(col("id").as("k"),
        when(col("id") % 3 === 0, col("id") * 2).as("sv"))
      .write.mode("append").parquet(dir)
    val e2 = intercept[IllegalArgumentException] {
      Layout.extendManifest(spark, dir, wide, Seq("sv"))
    }
    assert(e2.getMessage.contains("DROP") && e2.getMessage.contains("min_k"))
  }

  test("vacuumOrphans deletes only unreferenced data files") {
    val dir = freshDir("gc")
    spark.range(100).select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(3, col("k"))
      .write.mode("overwrite").parquet(dir)
    val v1 = Layout.statsManifest(spark, dir, Seq("k"))
      .localCheckpoint(eager = true)
    // plant two orphans: a stray data file and a hidden/metadata file
    // (the latter must be IGNORED, not deleted)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    java.nio.file.Files.copy(files.head.toPath,
      java.nio.file.Paths.get(dir, "part-orphan.parquet"))
    val snapshotBefore = Layout.snapshotRead(spark, dir, v1)
      .orderBy("k").collect().toSeq
    val (deleted, kept) = Layout.vacuumOrphans(spark, dir, Seq(v1))
    assert(deleted === 1 && kept === files.length)
    assert(!new java.io.File(dir, "part-orphan.parquet").exists())
    assert(new java.io.File(dir, "_SUCCESS").exists()) // metadata survives
    // retained snapshot unaffected; plain read equals it again
    assert(Layout.snapshotRead(spark, dir, v1).orderBy("k").collect().toSeq
      === snapshotBefore)
    assert(spark.read.parquet(dir).count() === 100L)
    // refusing to run with nothing retained (would delete everything)
    intercept[IllegalArgumentException] {
      Layout.vacuumOrphans(spark, dir, Seq.empty)
    }
  }

  test("vacuumOrphans reclaims orphans inside hive partition dirs") {
    val dir = freshDir("gcpart")
    spark.range(100)
      .select(col("id").as("k"), (col("id") % 4).cast("int").as("p"))
      .repartitionByRange(2, col("k"))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val v1 = Layout.statsManifest(spark, dir, Seq("k"))
      .localCheckpoint(eager = true)
    val nLive = v1.count()
    // plant an orphan INSIDE a partition dir — a top-level-only listing
    // would never see it
    val pDir = new java.io.File(dir, "p=1")
    val donor = pDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(donor.toPath,
      java.nio.file.Paths.get(pDir.toString, "part-orphan.parquet"))
    val (deleted, kept) = Layout.vacuumOrphans(spark, dir, Seq(v1))
    assert(deleted === 1 && kept === nLive)
    assert(!new java.io.File(pDir, "part-orphan.parquet").exists())
    // retained snapshot unaffected, partition column intact
    val snap = Layout.snapshotRead(spark, dir, v1)
    assert(snap.count() === 100L)
    assert(snap.filter(col("p") === 1).count() === 25L)
  }

  test("bloomRead: lossless skipping on an unclustered column") {
    val dir = freshDir("bloom")
    // layout clustered on k; v = (k·733) mod 2000 is a permutation that
    // scatters across the k-ranges — every file's [min_v, max_v] spans
    // nearly 0..1999, so a stats manifest on v prunes NOTHING, while
    // each value physically lives in exactly one file
    spark.range(2000)
      .select(col("id").as("k"), (col("id") * 733 % 2000).as("v"),
        (col("id") * 3).as("payload"))
      .repartitionByRange(10, col("k"))
      .write.mode("overwrite").parquet(dir)
    val idx = Layout.bloomIndex(spark, dir, "v", mBits = 4096, kHashes = 3)
      .localCheckpoint(eager = true)
    val nFiles = idx.count()
    assert(nFiles === 10L)
    // every row of every probed value comes back (no false negatives)
    for (probe <- Seq(0L, 13L, 96L)) {
      val got = Layout.bloomRead(spark, dir, idx, "v", lit(probe))
        .select("k", "payload").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      val want = spark.read.parquet(dir).filter(col("v") === probe)
        .select("k", "payload").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted.toSeq
      assert(got === want && got.nonEmpty)
    }
    // a value present nowhere reads zero rows (and typically zero files)
    assert(Layout.bloomRead(spark, dir, idx, "v", lit(5555L)).count() === 0L)
    // pruning is real: each v value lives in exactly one file, so the
    // probe keeps 1 file plus bloom false positives (which only ADD)
    val hit = (0 until 3).map(i => org.apache.spark.sql.functions.array_contains(
        col("bits"), org.apache.spark.sql.functions.pmod(
          graft.functions.TextFunctions.h64(
            org.apache.spark.sql.functions.concat_ws("-",
              lit(s"graft-bloom-$i"), lit(42L).cast("string"))), lit(4096))))
      .reduce(_ && _)
    val kept = idx.filter(hit).count()
    assert(kept < nFiles, s"expected bloom pruning, kept $kept of $nFiles")
  }

  test("extendBloomIndex over new files equals a rebuilt index") {
    val dir = freshDir("bloomx")
    spark.range(1000).select(col("id").as("k"), (col("id") * 733 % 2000).as("v"))
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(dir)
    val v1 = Layout.bloomIndex(spark, dir, "v").localCheckpoint(eager = true)
    spark.range(1000, 2000)
      .select(col("id").as("k"), (col("id") * 733 % 2000).as("v"))
      .repartitionByRange(4, col("k"))
      .write.mode("append").parquet(dir)
    val extended = Layout.extendBloomIndex(spark, dir, v1, "v")
    val rebuilt = Layout.bloomIndex(spark, dir, "v")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("file"), org.apache.spark.sql.functions.array_sort(col("bits")).as("bits"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(canon(extended) == canon(rebuilt))
    // extending an up-to-date index is the identity
    assert(canon(Layout.extendBloomIndex(spark, dir, extended
      .localCheckpoint(eager = true), "v")) == canon(rebuilt))
    // and the extended index still reads losslessly
    val got = Layout.bloomRead(spark, dir, extended, "v", lit(733L)).count()
    val want = spark.read.parquet(dir).filter(col("v") === 733L).count()
    assert(got === want && got > 0)
  }

  test("tokenBloomRead: lossless full-text skipping; rare term prunes files") {
    val dir = freshDir("tokbloom")
    // 10 id-clustered files; the needle token appears only in docs
    // 0..99 (file 0) — a rare term concentrated in one file
    spark.range(1000)
      .select(col("id").as("doc_id"),
        concat(lit("alpha beta gamma doc "), col("id").cast("string"),
          when(col("id") < 100, lit(" Needle")).otherwise(lit(""))).as("text"))
      .repartitionByRange(10, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val idx = Layout.tokenBloomIndex(spark, dir, "text")
      .localCheckpoint(eager = true)
    assert(idx.count() === 10L)
    // lossless, and the probe normalizes the term like the index side
    val got = Layout.tokenBloomRead(spark, dir, idx, "text", "NEEDLE")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === (0L until 100L).toSet)
    // common term: every row with it comes back
    val all = Layout.tokenBloomRead(spark, dir, idx, "text", "alpha").count()
    assert(all === 1000L)
    // absent term reads zero rows
    assert(Layout.tokenBloomRead(spark, dir, idx, "text", "absent").count() === 0L)
    // pruning is real: the needle scan touches a strict subset of files
    val scanned = Layout.tokenBloomRead(spark, dir, idx, "text", "needle")
      .inputFiles.length
    assert(scanned < 10, s"expected file pruning, scanned $scanned of 10")
    // a substring that is NOT a token does not match (token semantics)
    assert(Layout.tokenBloomRead(spark, dir, idx, "text", "eedl").count() === 0L)
  }

  test("extendTokenBloomIndex over new files equals a rebuilt index") {
    val dir = freshDir("tokbloomx")
    def docs(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("doc_id"),
        concat(lit("w"), (col("id") % 97).cast("string"), lit(" common"),
          lit(" u"), col("id").cast("string")).as("text"))
    docs(0, 500).repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val v1 = Layout.tokenBloomIndex(spark, dir, "text")
      .localCheckpoint(eager = true)
    docs(500, 1000).repartitionByRange(4, col("doc_id"))
      .write.mode("append").parquet(dir)
    val extended = Layout.extendTokenBloomIndex(spark, dir, v1, "text")
    val rebuilt = Layout.tokenBloomIndex(spark, dir, "text")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("file"), array_sort(col("bits")).as("bits"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(canon(extended) == canon(rebuilt))
    // a token only epoch-2 docs carry is findable through the extension
    val got = Layout.tokenBloomRead(spark, dir, extended, "text", "u777")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(777L))
  }

  test("tokenBloomReadWithDeletes: takedowns vanish without an index rebuild") {
    val dir = freshDir("tokbloomdv")
    // needle docs 0..99 cluster in file 0 of 10
    spark.range(1000)
      .select(col("id").as("doc_id"),
        concat(lit("alpha beta doc "), col("id").cast("string"),
          when(col("id") < 100, lit(" needle")).otherwise(lit(""))).as("text"))
      .repartitionByRange(10, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val idx = Layout.tokenBloomIndex(spark, dir, "text")
      .localCheckpoint(eager = true)
    // take down every third doc — DV lands, index untouched
    val dv = Layout.deletionVectors(spark, dir, col("doc_id") % 3 === 0)
      .localCheckpoint(eager = true)
    val got = Layout.tokenBloomReadWithDeletes(
        spark, dir, idx, "text", "NEEDLE", dv)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === (0L until 100L).filter(_ % 3 != 0).toSet)
    // pruning survives the DV composition: still a strict file subset
    val scanned = Layout.tokenBloomReadWithDeletes(
      spark, dir, idx, "text", "needle", dv).inputFiles.length
    assert(scanned < 10, s"expected file pruning, scanned $scanned of 10")
    // take down ALL needle docs: the bloom still admits file 0 (bits are
    // never unset) but zero rows can surface
    val dvAll = dv.unionAll(
      Layout.deletionVectors(spark, dir, col("doc_id") < 100))
    assert(Layout.tokenBloomReadWithDeletes(
      spark, dir, idx, "text", "needle", dvAll).count() === 0L)
    // empty DV degenerates to plain tokenBloomRead
    val none = dv.limit(0)
    assert(Layout.tokenBloomReadWithDeletes(
      spark, dir, idx, "text", "needle", none).count() === 100L)
  }

  test("plan: takedown-honoring token search is shuffle-free") {
    val dir = freshDir("tokbloomplan")
    spark.range(1000)
      .select(col("id").as("doc_id"),
        concat(lit("alpha doc "), col("id").cast("string"),
          when(col("id") < 100, lit(" needle")).otherwise(lit(""))).as("text"))
      .repartitionByRange(10, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val idx = Layout.tokenBloomIndex(spark, dir, "text")
      .localCheckpoint(eager = true)
    val dv = Layout.deletionVectors(spark, dir, col("doc_id") % 3 === 0)
      .localCheckpoint(eager = true)
    // index probe collects driver-side, the DV subtraction broadcasts:
    // the whole read is exchange-free until the caller aggregates
    val plan = Layout.tokenBloomReadWithDeletes(
        spark, dir, idx, "text", "needle", dv)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected a broadcast anti join, got:\n$plan")
    assert(!plan.contains("ShuffleExchange"),
      s"token search shuffled:\n$plan")
  }

  test("manifest refuses to be born or grown over the file ceiling") {
    val dir = sortedLayout(1000, 100) // 10 files
    try {
      spark.conf.set("spark.graft.manifest.maxFiles", "8")
      val exBuild = intercept[IllegalArgumentException] {
        Layout.statsManifest(spark, dir, Seq("k"))
      }
      assert(exBuild.getMessage.contains("spark.graft.manifest.maxFiles=8"))
      assert(exBuild.getMessage.contains("compact"))

      // under the ceiling the build succeeds; an extend that would cross
      // it fails loudly instead of silently growing the driver lists
      spark.conf.set("spark.graft.manifest.maxFiles", "12")
      val manifest = Layout.statsManifest(spark, dir, Seq("k"))
      spark.range(1000L, 1500L)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(5, col("k"))
        .write.mode("append").parquet(dir)
      val exExtend = intercept[IllegalArgumentException] {
        Layout.extendManifest(spark, dir, manifest, Seq("k"))
      }
      assert(exExtend.getMessage.contains("15 files"))

      // raising the conf unblocks the same extend, nothing is lost
      spark.conf.set("spark.graft.manifest.maxFiles", "1000000")
      val extended = Layout.extendManifest(spark, dir, manifest, Seq("k"))
      assert(extended.count() === 15L)
    } finally spark.conf.unset("spark.graft.manifest.maxFiles")
  }

  test("grouped manifest: pruned read equals flat pruned read and full scan") {
    val dir = sortedLayout(2000, 100) // 20 files
    val mfDir = freshDir("mf")
    val nFiles = spark.read.parquet(dir).inputFiles.length.toLong
    val groups = Layout.statsManifestPartitioned(
      spark, dir, Seq("k"), mfDir, groupSize = 4L)
    // groups of 4 → ceil(nFiles/4) groups; rollup covers every file/row
    assert(groups.count() === (nFiles + 3) / 4)
    val roll = groups.collect()
    assert(roll.map(_.getAs[Long]("n_files")).sum === nFiles)
    assert(roll.map(_.getAs[Long]("n_rows")).sum === 2000L)
    val expected = spark.read.parquet(dir)
      .filter(col("k") >= 120L && col("k") <= 480L)
      .select("k", "v").as[(Long, Long)].collect().sorted
    val got = Layout.prunedRead(spark, dir, Layout.Manifest.TwoLevel(mfDir), "k",
        lit(120L), lit(480L))
      .select("k", "v").as[(Long, Long)].collect().sorted
    assert(got.toSeq === expected.toSeq)
    val flat = Layout.prunedRead(spark, dir,
        Layout.statsManifest(spark, dir, Seq("k")), "k",
        lit(120L), lit(480L))
      .select("k", "v").as[(Long, Long)].collect().sorted
    assert(got.toSeq === flat.toSeq)
  }

  test("grouped manifest: the group probe prunes whole groups") {
    val dir = sortedLayout(2000, 100)
    val mfDir = freshDir("mfp")
    Layout.statsManifestPartitioned(spark, dir, Seq("k"), mfDir,
      groupSize = 4L)
    // a range inside one group's band touches 1-2 of the 5 groups
    val surviving = spark.read.parquet(s"$mfDir/groups")
      .filter(col("max_k") >= 120L && col("min_k") <= 180L)
      .count()
    assert(surviving <= 2L, s"expected <=2 surviving groups, got $surviving")
    // and an out-of-range probe touches zero groups but still answers
    assert(Layout.prunedRead(spark, dir, Layout.Manifest.TwoLevel(mfDir), "k",
      lit(10000L), lit(20000L)).count() === 0L)
  }

  test("grouped manifest: incremental extend ≡ rebuild for the read, " +
      "O(new) for the write") {
    val dir = sortedLayout(2000, 100) // 20 files
    val mfDir = freshDir("mfx")
    Layout.statsManifestPartitioned(spark, dir, Seq("k"), mfDir,
      groupSize = 4L)
    val filesBefore = spark.read.parquet(s"$mfDir/files")
      .select("file").as[String].collect().toSet
    val groupsBefore = spark.read.parquet(s"$mfDir/groups")
      .collect().map(r => r.getInt(0) -> r.toSeq).toMap
    // 6 new files land (keys beyond the built range)
    spark.range(2000, 3200).select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(6, col("k"))
      .write.mode("append").parquet(dir)
    val groups = Layout.extendManifestGrouped(spark, dir, mfDir, Seq("k"),
      groupSize = 4L)
    // every file tracked exactly once; old file rows reused verbatim
    val filesAfter = spark.read.parquet(s"$mfDir/files")
      .select("file").as[String].collect()
    assert(filesAfter.length === filesAfter.toSet.size)
    assert(filesBefore.subsetOf(filesAfter.toSet))
    assert(filesAfter.length ===
      spark.read.parquet(dir).inputFiles.length)
    // untouched rollup rows survive bit-identically; rollup stays exact
    val groupsAfter = groups.collect().map(r => r.getInt(0) -> r.toSeq).toMap
    val touched = groupsAfter.keySet.filterNot(g =>
      groupsBefore.get(g).contains(groupsAfter(g)))
    for ((g, row) <- groupsBefore if !touched.contains(g))
      assert(groupsAfter(g) === row)
    assert(groupsAfter.values.map(_(1).asInstanceOf[Long]).sum ===
      filesAfter.length.toLong)
    // the read contract: extended probe ≡ rebuilt probe ≡ plain filter
    val expected = spark.read.parquet(dir)
      .filter(col("k") >= 1900L && col("k") <= 2500L)
      .select("k", "v").as[(Long, Long)].collect().sorted
    val got = Layout.prunedRead(spark, dir, Layout.Manifest.TwoLevel(mfDir), "k",
        lit(1900L), lit(2500L))
      .select("k", "v").as[(Long, Long)].collect().sorted
    assert(got.toSeq === expected.toSeq)
    val rebuiltDir = freshDir("mfx-rebuilt")
    Layout.statsManifestPartitioned(spark, dir, Seq("k"), rebuiltDir,
      groupSize = 4L)
    val rebuilt = Layout.prunedRead(spark, dir, Layout.Manifest.TwoLevel(rebuiltDir), "k",
        lit(1900L), lit(2500L))
      .select("k", "v").as[(Long, Long)].collect().sorted
    assert(got.toSeq === rebuilt.toSeq)
    // idempotent: nothing new → rollup unchanged
    val again = Layout.extendManifestGrouped(spark, dir, mfDir, Seq("k"),
      groupSize = 4L)
    assert(again.collect().map(r => r.getInt(0) -> r.toSeq).toMap ===
      groupsAfter)
  }

  test("grouped manifest: no ceiling refusal and zero-row files tracked") {
    val dir = sortedLayout(1000, 100)
    // a schema-seed (zero-row) write must land in the manifest too
    spark.range(0).select(col("id").as("k"), col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(dir)
    val expectFiles = spark.read.parquet(dir).inputFiles.length.toLong
    val mfDir = freshDir("mfz")
    spark.conf.set("spark.graft.manifest.maxFiles", "2")
    try {
      // flat build refuses under the tiny ceiling...
      intercept[IllegalArgumentException] {
        Layout.statsManifest(spark, dir, Seq("k"))
      }
      // ...the grouped build does not (bounded collects by design)
      val groups = Layout.statsManifestPartitioned(
        spark, dir, Seq("k"), mfDir, groupSize = 4L)
      val nFiles = groups.collect().map(_.getAs[Long]("n_files")).sum
      assert(nFiles === expectFiles)
    } finally spark.conf.unset("spark.graft.manifest.maxFiles")
    // zero-row file: null min/max never survives a probe, result exact
    assert(Layout.prunedRead(spark, dir, Layout.Manifest.TwoLevel(mfDir), "k",
      lit(0L), lit(50L)).count() === 51L)
  }
}
