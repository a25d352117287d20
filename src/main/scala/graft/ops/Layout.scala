package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.ops.Ckpt.CkptSyntax
import scala.jdk.CollectionConverters._
import scala.language.implicitConversions

/** Multi-dimensional data layout via Z-order (Morton) curves: interleave
  * the bits of two clustering keys so that rows close in BOTH dimensions
  * land close in the sort order. Files written in z-value ranges then
  * carry tight min/max statistics on BOTH columns, and a predicate on
  * either dimension prunes most files — the standard layout trick for
  * 100 TB tables queried along more than one axis (a plain sort on
  * (a, b) only prunes on `a`).
  *
  * The z-value is a pure chain of codegen'd shift/mask builtins unrolled
  * at plan-build time — no UDF, no interpreted lambda — and is exactly
  * reproducible in any engine with shift operators, so it oracle-checks.
  */
object Layout {

  /** Interleaved Morton code of two non-negative ints using the low
    * `bits` of each (x in even positions, y in odd). `bits <= 31`. */
  def zorderValue(x: Column, y: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, "bits must be in [1, 31]")
    zorderValueN(Seq(x, y), bits)
  }

  /** N-dimensional Morton code: bit j of column k lands at position
    * `n·j + k`, so for two columns this is exactly [[zorderValue]]'s
    * interleave. All columns non-negative integrals below 2^`bits`;
    * `cols.size · bits <= 62` keeps the code in a positive long. Still
    * a pure chain of codegen'd shift/mask builtins unrolled at
    * plan-build time. */
  def zorderValueN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, s"need at least 2 cluster columns")
    require(bits > 0 && cols.size * bits <= 62,
      s"${cols.size} columns × $bits bits exceeds a positive long")
    val n = cols.size
    val longs = cols.map(_.cast("long"))
    (0 until bits).flatMap { i =>
      longs.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), n * i + j)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** [[zorderLayout]] over N cluster columns. Columns must be integral:
    * a fractional column would truncate inside the z-code while the
    * manifest stores its exact fractional bounds — clustering would
    * still work, but the silent mismatch invites off-by-truncation
    * pruning surprises, so it refuses. Note the standard z-order
    * caveat for asymmetric ranges: a dimension using far fewer value
    * bits than `bits` occupies only LOW code positions and clusters
    * weakest — size `bits` to the widest dimension and expect
    * selectivity proportional to each dimension's bit usage. */
  def zorderLayoutN(df: DataFrame, cols: Seq[String], bits: Int,
      numFiles: Int): DataFrame = {
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(Seq("byte", "short", "int", "long", "integer", "tinyint",
          "smallint", "bigint").contains(dt.typeName),
        s"z-order cluster column '$c' must be integral, got " +
          s"${dt.simpleString} (cast it explicitly first)")
    }
    val z = zorderValueN(cols.map(col), bits)
    df.withColumn("graft_z", z)
      .repartitionByRange(numFiles, col("graft_z"))
      .sortWithinPartitions("graft_z")
      .drop("graft_z")
  }

  /** [[optimizeZorder]] over N cluster columns — same contract
    * (merge-on-read rewrite, DV folds in, commitAppend-union manifest
    * growth afterwards), with every clustered dimension selective in
    * the manifest. @return the new catalog version number */
  def optimizeZorderN(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, catalogPath: String, artifactDir: String,
      clusterCols: Seq[String], bits: Int, numFiles: Int,
      statsCols: Seq[String]): Int = {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val refs = Catalog.resolveCurrent(spark, catalogPath)
    val manifest = spark.read.parquet(refs("manifest"))
    val snap = refs.get("dv") match {
      case Some(dv) => snapshotReadWithDeletes(spark, dataDir, manifest,
        spark.read.parquet(dv))
      case None => snapshotRead(spark, dataDir, manifest)
    }
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val cdir = s"$dataDir/commit-zorder-$tag"
    zorderLayoutN(snap, clusterCols, bits, numFiles).write.parquet(cdir)
    val mDir = s"$artifactDir/m-zorder-$tag"
    statsManifest(spark, cdir, statsCols).write.parquet(mDir)
    Catalog.commit(spark, catalogPath, Map("manifest" -> mDir))
  }

  /** Repartition into `numFiles` z-value ranges and sort within each —
    * the write-side layout pass (`df.write.parquet` after this produces
    * one z-clustered file per partition, each with tight min/max on both
    * dimensions). One range-exchange; the sampled range boundaries only
    * affect file sizing, never content. */
  def zorderLayout(df: DataFrame, xCol: String, yCol: String,
      bits: Int, numFiles: Int): DataFrame =
    zorderLayoutN(df, Seq(xCol, yCol), bits, numFiles)

  /** OPTIMIZE ZORDER as a catalog operation — rewrite the current
    * version's live rows z-clustered on (`xCol`, `yCol`) and commit the
    * result as the next catalog version (the Delta `OPTIMIZE ... ZORDER
    * BY` / Iceberg rewrite-with-sort-order maintenance verb, public
    * docs). The rewrite reads merge-on-read (manifest + DV), so the
    * new version's files contain only live rows and the version
    * commits WITHOUT a DV artifact: clustering doubles as delete
    * purging, which also re-qualifies the table for the DV-refusing
    * [[graft.plans.MetaAggRewrite]] registration.
    *
    * Scale: one range exchange over the table (the standard OPTIMIZE
    * cost, paid once and amortized over every later pruned read) plus
    * the O(#newFiles) stats aggregate. The payoff is on the READ side:
    * each output file covers a tight z-range, so its min/max footer
    * stats are selective on BOTH dimensions and a predicate on either
    * column — or a 2-D box — admits O(matching) files through the
    * manifest ([[prunedRead]] or the automatic
    * [[graft.plans.ScanPruneRewrite]]) instead of O(#files). A plain
    * sort on (x, y) only ever prunes on x; the interleave is what
    * makes the second dimension selective at 100 TB.
    *
    * Both cluster columns must be non-negative integrals below
    * 2^`bits` ([[zorderValue]]'s contract). Old files stay on disk for
    * time travel; reference-based GC ([[graft.ops.Catalog]] vacuum)
    * reclaims them when their versions age out.
    *
    * CONTRACT for later manifest growth: because the superseded
    * pre-cluster files remain in the directory, a directory-listing
    * diff ([[extendManifest]]) run AFTER an optimize would resurrect
    * them as "new" files — duplicating every row they hold. Grow an
    * optimized table's manifest by row-union of [[commitAppend]]
    * stats instead (the s44 streaming loop's discipline); the same
    * rule applies after any operation that removes files from the
    * manifest without deleting them from disk.
    *
    * @return the new catalog version number */
  def optimizeZorder(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, catalogPath: String, artifactDir: String,
      xCol: String, yCol: String, bits: Int, numFiles: Int,
      statsCols: Seq[String]): Int =
    optimizeZorderN(spark, dataDir, catalogPath, artifactDir,
      Seq(xCol, yCol), bits, numFiles, statsCols)

  /** INCREMENTAL clustering maintenance — [[optimizeZorder]] for only
    * the files the current version added on top of `baseVersion` (the
    * last optimized version). Appends land row-ordered and scatter
    * both cluster dimensions across every new file; this pass
    * re-clusters JUST those rows into tight z-range files and commits,
    * leaving the already-clustered base files byte-identical. Write
    * cost is O(delta); read-side admission stays
    * O(base-files-matching + delta-files-matching) instead of
    * degrading linearly with every append wave — the auto-compaction /
    * clustered-append maintenance loop long-lived tables run
    * continuously.
    *
    * DV addresses survive by partition: base-file addresses are COPIED
    * into the new version (those files' bytes did not move), while
    * addresses into re-clustered delta files are APPLIED during the
    * rewrite (their rows simply don't reach the new files) and
    * dropped. The new version carries a `dv` artifact only when base
    * addresses remain.
    *
    * @return the new catalog version number */
  def optimizeZorderDelta(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, catalogPath: String, artifactDir: String,
      baseVersion: Int, xCol: String, yCol: String, bits: Int,
      numFiles: Int, statsCols: Seq[String]): Int = {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val refs = Catalog.resolveCurrent(spark, catalogPath)
    val baseRefs = Catalog.resolve(spark, catalogPath, baseVersion)
    val manifest = spark.read.parquet(refs("manifest"))
      .localCheckpoint(eager = true) // pinned: read twice + diffed below
    // a hive-partitioned current version cannot be delta-clustered:
    // the rewritten delta files would carry the partition column as a
    // data column while the kept base files encode it in their dirs —
    // a mixed layout no single read can plan. The FULL optimizeZorder
    // is the partitioned path (it rewrites every live row, so the
    // whole new version materializes the partition columns uniformly).
    require(!isPartitioned(manifest),
      "optimizeZorderDelta cannot cluster a hive-partitioned version " +
        "(its manifest carries part_* tuples): keeping base files in " +
        "col=value dirs while delta files materialize the partition " +
        "column as data would leave a mixed layout no read can plan. " +
        "Run the full optimizeZorder instead — it rewrites every live " +
        "row and the new version is uniformly flat.")
    val baseManifest = spark.read.parquet(baseRefs("manifest"))
    // planner-scale file-set diff (manifests are O(#files) rows — the
    // same driver contract every manifest consumer pays)
    val baseFiles = baseManifest.select("file").collect()
      .map(r => uriPath(r.getString(0))).toSet
    val deltaRows = manifest.filter(col("file").isNotNull)
      .collect().filterNot(r => baseFiles.contains(
        uriPath(r.getAs[String]("file"))))
    val deltaFiles = deltaRows.map(_.getAs[String]("file")).toSeq
    require(deltaFiles.nonEmpty,
      s"no files added since version $baseVersion — nothing to cluster")
    val dv = refs.get("dv").map(spark.read.parquet(_)
      .localCheckpoint(eager = true))
    val deltaSet = deltaFiles.map(uriPath).toSet
    val isDelta = (c: Column) => uriPathCol(c).isInCollection(deltaSet)
    val deltaScan = spark.read.parquet(deltaFiles: _*)
    val deltaLive = dv match {
      case Some(d) => applyDv(deltaScan, d.filter(isDelta(col("file"))))
      case None => deltaScan
    }
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val cdir = s"$dataDir/commit-zdelta-$tag"
    zorderLayout(deltaLive, xCol, yCol, bits, numFiles)
      .write.parquet(cdir)
    // new manifest = the base-version rows the current manifest still
    // carries (stats unchanged — those files' bytes did not move) +
    // fresh stats over the re-clustered delta files
    val deltaStats = statsManifest(spark, cdir, statsCols)
    val keptBase = manifest.filter(
      uriPathCol(col("file")).isInCollection(baseFiles))
    val newManifest = alignManifestSchema(keptBase, deltaStats)
      .unionByName(deltaStats)
    val mDir = s"$artifactDir/m-zdelta-$tag"
    // planner-scale artifact, both inputs materialized/tiny-file reads:
    // single-task persist (guide §6 — see statsManifest's return)
    newManifest.coalesce(1).write.parquet(mDir)
    val keptDv = dv.map(_.filter(!isDelta(col("file"))))
    keptDv.filter(d => !d.isEmpty) match {
      case Some(d) =>
        val dvDir = s"$artifactDir/dv-zdelta-$tag"
        // delta-scale artifact off a checkpointed frame: single task
        d.coalesce(1).write.parquet(dvDir)
        Catalog.commit(spark, catalogPath,
          Map("manifest" -> mDir, "dv" -> dvDir))
      case None =>
        Catalog.commit(spark, catalogPath, Map("manifest" -> mDir))
    }
  }

  /** DATA-DRIVEN OPTIMIZE policy — the decision layer above
    * [[optimizeZorder]] / [[optimizeZorderDelta]] that a continuously-
    * ingesting table's maintenance loop calls instead of hardcoding a
    * cadence (the s44 loop's "every second batch" is this verb with
    * the decision made by the CALLER; here the MANIFEST decides).
    *
    * One planner-scale file-set diff against the last optimized
    * version classifies the table:
    *   - no new files → `("none", currentVersion)` — zero work;
    *   - unclustered fraction ≤ `deltaThreshold` → re-cluster ONLY the
    *     appended files (`optimizeZorderDelta`, O(appends) write);
    *   - above the threshold → full rewrite (`optimizeZorder`) — past
    *     that point the accumulated delta files each span the whole
    *     key domain and read-side admission has degraded enough that
    *     the amortized full pass is the cheaper steady state.
    *
    * The delta wave's output file count scales with its share of the
    * table (`ceil(numFiles · fraction)`), so repeated small waves
    * neither fragment the layout nor inherit the full-table file
    * budget. Returns (action, newVersion); the caller threads the
    * returned version back in as `lastOptimizedVersion` after any
    * "delta"/"full" action, exactly like the s44 loop. */
  def maintainClustering(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, catalogPath: String, artifactDir: String,
      xCol: String, yCol: String, bits: Int, numFiles: Int,
      statsCols: Seq[String], lastOptimizedVersion: Int,
      deltaThreshold: Double = 0.3): (String, Int) = {
    require(deltaThreshold > 0 && deltaThreshold <= 1,
      s"deltaThreshold in (0, 1], got $deltaThreshold")
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val cur = Versions.current(catalogPath)
    val curFiles = spark.read.parquet(
        Catalog.ref(spark, catalogPath, cur, "manifest"))
      .filter(col("file").isNotNull)
      .select("file").collect().map(r => uriPath(r.getString(0))).toSet
    val baseFiles = spark.read.parquet(
        Catalog.ref(spark, catalogPath, lastOptimizedVersion, "manifest"))
      .filter(col("file").isNotNull)
      .select("file").collect().map(r => uriPath(r.getString(0))).toSet
    val fresh = curFiles.diff(baseFiles)
    if (fresh.isEmpty) ("none", cur)
    else {
      val frac = fresh.size.toDouble / curFiles.size
      if (frac <= deltaThreshold) {
        val waveFiles = math.max(1, math.ceil(numFiles * frac).toInt)
        ("delta", optimizeZorderDelta(spark, dataDir, catalogPath,
          artifactDir, lastOptimizedVersion, xCol, yCol, bits,
          waveFiles, statsCols))
      } else
        ("full", optimizeZorder(spark, dataDir, catalogPath, artifactDir,
          xCol, yCol, bits, numFiles, statsCols))
    }
  }

  /** Small-file compaction — the maintenance pass every long-lived
    * table needs: streaming sinks and incremental appends leave
    * thousands of KB-sized files whose per-file open/footer overhead
    * dominates scan time at 100 TB. Rewrites `inDir` into up to
    * ceil(rows / targetRowsPerFile) files, range-partitioned and sorted
    * on `sortCol` so each output file covers a contiguous key range
    * (min/max footer stats stay selective — compaction must not destroy
    * data-skipping). With a total-order key (unique values) the file
    * count is exactly the ceiling; heavy duplicate keys can produce
    * fewer, larger files — a range partitioner cannot split one key
    * value across files. One count + one range exchange; content
    * identical by construction. Returns the actual compacted file
    * count, resolved through the path's Hadoop filesystem (works on
    * hdfs:///s3a:// paths, not just local disk). */
  /** Guard for the APPEND-mode compaction family: those ops append
    * rewritten files into `outDir` and then rebind residual state
    * against a scan of it, so a previously-used `outDir` silently
    * double-counts rows (stale part-files survive the append) and
    * rebinds against the wrong files. `mode("overwrite")` writers
    * ([[compact]]) don't need this — Spark clears the target itself. */
  private def requireEmptyOutDir(spark: org.apache.spark.sql.SparkSession,
      outDir: String, op: String): Unit = {
    val fs = graft.io.PathResolver.fsFor(outDir,
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(outDir)
    if (fs.exists(p)) {
      // directories count as stale too: partitioned leftovers
      // (outDir/date=…/part-*.parquet) would be swept up by partition
      // discovery on the next read just like top-level files
      val stale = fs.listStatus(p).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      require(stale.isEmpty,
        s"$op: outDir $outDir already holds ${stale.length} entr(ies) " +
          s"(e.g. ${stale.headOption.map(_.getName).getOrElse("")}); this " +
          "op appends — rerunning into a used directory would double-count " +
          "rows. Target an empty or nonexistent directory.")
    }
  }

  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, sortCol: String, targetRowsPerFile: Long): Int = {
    require(targetRowsPerFile > 0, s"targetRowsPerFile must be positive")
    // an in-place compact would delete its own input mid-scan (the
    // overwrite clears outDir before the write job re-reads inDir)
    require(new org.apache.hadoop.fs.Path(inDir) !=
        new org.apache.hadoop.fs.Path(outDir),
      s"compact cannot rewrite in place: inDir and outDir are both $inDir")
    val df = spark.read.parquet(inDir)
    val rows = df.count()
    val nFiles = math.max(1, ((rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt)
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(outDir)
    val fs = graft.io.PathResolver.fsFor(outDir,
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Incremental small-file compaction — the maintenance pass that
    * touches only what needs touching: files with at least
    * `minRowsPerFile` rows are COPIED byte-for-byte driver-side (a
    * streaming filesystem copy — no decode, no re-encode, no executor
    * work), and only the fragment tail is read, range-sorted, and
    * rewritten at `targetRowsPerFile`. On a long-lived table where
    * daily appends fragment a sliver of the data, this re-encodes the
    * sliver, not the table — the incremental counterpart of
    * [[compact]], same O(new data) posture as [[extendManifest]]. The
    * per-file row census is one distributed `_metadata.file_path`
    * aggregate (O(#files) driver rows). Returns the output parquet
    * file count. */
  def compactSmall(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, sortCol: String, targetRowsPerFile: Long,
      minRowsPerFile: Long): Int = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    require(minRowsPerFile > 0, "minRowsPerFile must be positive")
    requireEmptyOutDir(spark, outDir, "compactSmall")
    val perFile = refusePartitioned(spark, inDir, "compactSmall")
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(count(lit(1)).as("n_rows"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val (big, small) = perFile.partition(_._2 >= minRowsPerFile)
    val conf = spark.sparkContext.hadoopConfiguration
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = graft.io.PathResolver.fsFor(outDir, conf)
    outFs.mkdirs(outPath)
    big.foreach { case (p, _) =>
      val src = new org.apache.hadoop.fs.Path(p)
      val srcFs = graft.io.PathResolver.fsFor(p, conf)
      org.apache.hadoop.fs.FileUtil.copy(srcFs, src, outFs,
        new org.apache.hadoop.fs.Path(outPath, src.getName),
        false /* keep source */, true /* overwrite */, conf)
    }
    if (small.nonEmpty) {
      val rows = small.map(_._2).sum
      val nFiles = math.max(1,
        ((rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt)
      explicitFilesRead(spark, inDir, partitioned = false,
          small.map(_._1).toIndexedSeq)
        .repartitionByRange(nFiles, col(sortCol))
        .sortWithinPartitions(sortCol)
        .write.mode("append").parquet(outDir)
    }
    outFs.listStatus(outPath)
      .count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Selective MERGE into a range-partitioned layout — the lake-format
    * "merge rewrites only overlapping files" economics without the
    * format: per-file [min, max] key ranges (one stats pass) pick the
    * files whose range can contain a changed key; ONLY those are read,
    * merged via [[Merge.applyChanges]], range-sorted, and rewritten —
    * every other file is stream-copied byte-for-byte (no decode, no
    * executor work). A file whose range contains no changed key
    * provably contains no changed ROW, so copying it verbatim is
    * exact. Inserts outside every file range merge into the rewritten
    * partition (or form it when nothing overlaps). Cost: O(overlapping
    * files + changes), never O(table). The overlap probe broadcasts
    * the manifest (O(#files) planner rows) against the change keys;
    * at extreme file counts swap it for a range-bucketed join.
    * Returns the output parquet file count. */
  def mergeIntoLayout(spark: org.apache.spark.sql.SparkSession,
      inDir: String, outDir: String, changes: DataFrame, keyCol: String,
      deleteCol: String = "is_delete"): Int = {
    requireEmptyOutDir(spark, outDir, "mergeIntoLayout")
    refusePartitioned(spark, inDir, "mergeIntoLayout")
    // driver-local rows (statsManifest's contract): probed and diffed
    // below without re-running the stats
    val manifest = statsManifest(spark, inDir, Seq(keyCol))
      .select(col("file"), col(s"min_$keyCol").as("graft_lo"),
        col(s"max_$keyCol").as("graft_hi"))
    val touched = broadcast(manifest)
      .join(changes.select(col(keyCol).as("graft_k")),
        col("graft_k") >= col("graft_lo") && col("graft_k") <= col("graft_hi"),
        "left_semi")
      .select("file").collect().map(_.getString(0))
    val untouched = manifest.select("file").collect().map(_.getString(0))
      .filterNot(touched.toSet)
    val conf = spark.sparkContext.hadoopConfiguration
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = graft.io.PathResolver.fsFor(outDir, conf)
    outFs.mkdirs(outPath)
    untouched.foreach { p =>
      val src = new org.apache.hadoop.fs.Path(p)
      org.apache.hadoop.fs.FileUtil.copy(
        graft.io.PathResolver.fsFor(p, conf), src, outFs,
        new org.apache.hadoop.fs.Path(outPath, src.getName),
        false, true, conf)
    }
    val base = explicitFilesRead(spark, inDir, partitioned = false,
      touched.toIndexedSeq)
    val merged = Merge.applyChanges(base, changes, keyCol, deleteCol)
    merged.repartitionByRange(math.max(1, touched.length), col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("append").parquet(outDir)
    outFs.listStatus(outPath)
      .count(_.getPath.getName.endsWith(".parquet"))
  }

  /** MERGE-ON-READ upsert as one catalog commit — the write-cheap half
    * of MERGE INTO ([[mergeIntoLayout]] is the copy-on-write half).
    * Nothing is rewritten: matched keys' existing rows are tombstoned
    * by deletion-vector addresses (resolved through the manifest-pruned
    * scan, so only files whose key span intersects the change batch are
    * opened), non-delete change rows land as one ordinary append
    * commit, and the new version publishes {manifest ∪ new-file stats,
    * old DV ∪ new addresses} atomically. Readers see the merge through
    * [[snapshotReadWithDeletes]]; result ≡ [[Merge.applyChanges]] over
    * the previous live snapshot (gate-proven against the SQL oracle).
    *
    * Scale: per wave this costs O(files containing matched keys) read
    * + O(change rows) write — never O(table), and the read side gets
    * CHEAPER as the layout improves (clustered keys → fewer touched
    * files). The deferred cost is the usual MoR debt: DV rows accrue
    * until [[compactDeletes]] folds them, exactly Delta/Iceberg's
    * posture. Contracts inherited: `changes` unique per `keyCol`
    * ([[Merge.applyChanges]]), key batch delta-scale (broadcast).
    *
    * @param txnId    commit idempotency key ([[Catalog.commitIdempotent]])
    *                 for streaming foreachBatch retries; None = plain commit
    * @return the new catalog version number */
  def mergeOnReadCommit(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, catalogPath: String, artifactDir: String,
      changes: DataFrame, keyCol: String, deleteCol: String = "is_delete",
      statsCols: Seq[String], txnId: Option[String] = None): Int = {
    // idempotency check FIRST: a replayed batch must not re-append its
    // data files (they'd be manifest-orphans — harmless to readers but
    // pure write waste) before discovering the commit already landed
    txnId.foreach { t =>
      implicit val s: org.apache.spark.sql.SparkSession = spark
      Versions.listVersions(catalogPath).reverse
        .find(v => Catalog.resolve(spark, catalogPath, v)
          .get("_txn").contains(t))
        .foreach(v => return v)
    }
    val refs = Catalog.resolveCurrent(spark, catalogPath)
    val manifest = spark.read.parquet(refs("manifest"))
      .localCheckpoint(eager = true) // probed for touched files + unioned
    // two consumers (address resolution is itself two probes) — pin
    val keys = changes.select(col(keyCol)).distinct().ckpt
    val newAddrs =
      deletionVectorsForKeysPruned(spark, dataDir, manifest, keys, keyCol)
    val oldDv = refs.get("dv").map(spark.read.parquet(_))
    val dvAll = oldDv.map(_.unionAll(newAddrs)).getOrElse(newAddrs)
    val upserts = changes
      .filter(!coalesce(col(deleteCol).cast("boolean"), lit(false)))
      .drop(deleteCol)
    val newStats = commitAppend(spark, upserts, dataDir, statsCols)
    val newManifest = alignManifestSchema(manifest, newStats)
      .unionByName(newStats)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val mDir = s"$artifactDir/m-merge-$tag"
    // planner-scale artifact (ckpt'd base ∪ coalesced fresh stats):
    // single-task persist, or merge chains snowball part files
    newManifest.coalesce(1).write.parquet(mDir)
    // artifact carry-forward policy: `colmap` rides along (the schema
    // mapping is data-independent — [[SchemaEvolution]] tables keep
    // their schema across merges), but secondary indexes (bloom,
    // token_bloom, views) are intentionally DROPPED: carried stale,
    // they would not know the new files and their consumers would
    // silently LOSE rows — a missing artifact fails loudly instead.
    // Re-extend and re-commit indexes after the merge (extendBloomIndex
    // posture).
    val carried = refs.filter { case (k, _) =>
      k == SchemaEvolution.Artifact }
    val arts = carried ++
      (if (dvAll.isEmpty) Map("manifest" -> mDir)
      else {
        val dvDir = s"$artifactDir/dv-merge-$tag"
        // delta-scale artifact; repartition (NOT coalesce) because the
        // new addresses come from an un-materialized pruned scan —
        // coalesce(1) would serialize that scan, repartition keeps it
        // parallel and shuffles only (file, pos) rows
        dvAll.repartition(1).write.parquet(dvDir)
        Map("manifest" -> mDir, "dv" -> dvDir)
      })
    txnId match {
      case Some(t) => Catalog.commitIdempotent(spark, catalogPath, t, arts)
      case None => Catalog.commit(spark, catalogPath, arts)
    }
  }

  /** [[mergeOnReadCommit]] past the flat-manifest ceiling — MERGE over
    * a [[statsManifestPartitioned]] (two-level) layout. Matched keys'
    * addresses resolve through the GROUP-pruned scan
    * ([[deletionVectorsForKeysPruned]] over a [[Manifest.TwoLevel]]:
    * rollup first, file rows only at surviving partitions), upserts
    * land as one append commit, and
    * the grouped manifest absorbs the new files in place via
    * [[extendManifestGrouped]]'s O(new data) tail-group contract.
    * Returns the grown DV set (old ∪ new addresses — grow-only under
    * union, the caller persists it); the layout root mutates in place,
    * which is the grouped family's documented posture (q112) — wrap
    * the (manifestRoot, dvDir) pair in a [[Catalog]] version per wave
    * when time travel is required.
    *
    * Per wave: O(touched groups · groupSize) driver rows +
    * O(files holding matched keys) data read + O(changes) write —
    * never O(#files), the bound that lets a 10⁷-file table absorb
    * continuous MERGE traffic. Contract inherited:
    * `changes` unique per `keyCol`. */
  def mergeOnReadGrouped(spark: org.apache.spark.sql.SparkSession,
      dataDir: String, manifestRoot: String, dv: Option[DataFrame],
      changes: DataFrame, keyCol: String, deleteCol: String = "is_delete",
      statsCols: Seq[String], groupSize: Long = 8192L): DataFrame = {
    val keys = changes.select(col(keyCol)).distinct().ckpt
    val newAddrs = deletionVectorsForKeysPruned(spark, dataDir,
      Manifest.TwoLevel(manifestRoot), keys, keyCol)
    val upserts = changes
      .filter(!coalesce(col(deleteCol).cast("boolean"), lit(false)))
      .drop(deleteCol)
    // flat append into the table dir (the grouped family's layout —
    // extendManifestGrouped discovers new files by listing diff, which
    // does not recurse into commit subdirectories)
    upserts.write.mode("append").parquet(dataDir)
    extendManifestGrouped(spark, dataDir, manifestRoot, statsCols,
      groupSize)
    dv.map(_.unionAll(newAddrs)).getOrElse(newAddrs)
  }

  /** The shape of a table's stats manifest. Every manifest consumer
    * runs the same two steps over it — [[admit]] the file rows that can
    * hold a match, then [[scan]] exactly those files — so the flat and
    * the two-level layout share one read path instead of a parallel
    * verb family. A `DataFrame` of manifest rows converts implicitly,
    * so flat callers pass their rows unchanged. */
  sealed trait Manifest
  object Manifest {
    /** Flat rows, one per data file ([[statsManifest]],
      * [[extendManifest]], [[commitAppend]] unions). */
    final case class Rows(rows: DataFrame) extends Manifest
    /** A [[statsManifestPartitioned]] root: the per-group rollup at
      * `root/groups`, per-file rows at `root/files` partitioned by
      * `graft_group`. */
    final case class TwoLevel(root: String) extends Manifest
    implicit def fromRows(rows: DataFrame): Manifest = Rows(rows)
  }

  /** Per-file column min/max statistics — the data-skipping manifest.
    *
    * One distributed pass groups the table by the hidden
    * `_metadata.file_path` column and folds min/max per requested
    * column plus a row count. The result is the same metadata a lake
    * table format (Delta/Iceberg/Hudi stats) keeps per data file; here
    * it is first-class data, so it can be persisted, merged
    * incrementally (min/max/count are associative), and joined against
    * predicates. On a 100 TB table the manifest is O(#files) rows —
    * planner-scale, not data-scale.
    *
    * The table opens with one listing and one footer read ([[openDir]],
    * no inference job) and the stats are ONE action ([[fileStats]]):
    * the returned manifest is a driver-local frame of at most
    * `spark.graft.manifest.maxFiles` rows, not a checkpoint.
    *
    * Built over layouts from [[compact]] / [[zorderLayout]], the
    * per-file ranges are tight and non-overlapping, which is what makes
    * [[prunedRead]] selective.
    */
  def statsManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one stats column")
    val scan = openDir(spark, dir)
    // ceiling check BEFORE the stats aggregate: the scan's file-index
    // snapshot is already resolved driver-side, so the count is free
    checkManifestCeiling(spark, scan.inputFiles.length.toLong, dir)
    // single partition on the RETURNED frame: a manifest is planner-
    // scale by contract (≤ the maxFiles ceiling, ~40 bytes/row), and
    // callers persist it per version — without this, each persist
    // writes one part-file per upstream partition and every re-read
    // pays per-file open/footer cost (guide §6 output sizing; the
    // Iceberg posture: manifests are written single-threaded). The
    // stats aggregate itself still ran distributed (collected inside
    // fileStats); only the driver-local rows funnel into one task.
    fileStats(scan, scan.inputFiles.toSeq, cols).coalesce(1)
  }

  /** The stats rows of the files `scan` reads — the one aggregate every
    * manifest build and extend shares: row count, exact bytes, and
    * min/max/null count per column, grouped by `_metadata.file_path`.
    * Hive-partitioned scans also record each file's partition tuple as
    * `part_<col>` (every row of a file shares it) — the Iceberg
    * manifest-entry model — so snapshot reads can reconstruct the
    * partition columns and prune partitions with zero listings.
    *
    * `files` is the set the scan covers: each one the aggregate emits
    * no row for is a zero-row file and gets a synthesized entry
    * ([[zeroRowEntries]]). It must come from the scan's OWN
    * file-index snapshot (inputFiles, or the explicit fresh-file list),
    * never a second directory listing: a file appended while the
    * aggregate runs must stay ABSENT (a later extend picks it up with
    * real stats), not be recorded as a zero-row entry that pruned reads
    * would skip forever.
    *
    * ONE action: the aggregate's rows are collected once, the zero-row
    * diff runs over them, and the result is a driver-local frame
    * (`createDataFrame`) that consumers probe repeatedly without a job
    * or a checkpoint. The rows are O(#files) planner metadata, bounded
    * by the `spark.graft.manifest.maxFiles` ceiling — the same paths
    * the zero-row diff has always collected to the driver. */
  private def fileStats(scan: DataFrame, files: Seq[String],
      cols: Seq[String]): DataFrame = {
    val aggs = statsAggs(cols) ++
      partitionColsOf(scan).map(c => first(col(c)).as(s"part_$c"))
    val stats = scan
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
    val rows = stats.collect()
    val statsFiles = rows.map(r => uriPath(r.getString(0))).toSet
    val missing = files.filterNot(p => statsFiles.contains(uriPath(p)))
    scan.sparkSession.createDataFrame(java.util.Arrays.asList(
      rows ++ zeroRowEntries(scan.sparkSession, stats.schema, missing): _*),
      stats.schema)
  }

  /** MANIFEST-OF-MANIFESTS — the read path past the flat ceiling. The
    * flat [[statsManifest]] contract is honest but refuses to be born
    * over more than `spark.graft.manifest.maxFiles` files, because all
    * of its consumers collect O(#files) paths on the driver. The lake-
    * format endgame (Iceberg's manifest lists, public spec) is a TWO-
    * LEVEL index: per-file stats rows live on disk, PARTITIONED into
    * contiguous groups clustered by the first stats column's min, and
    * a tiny per-group rollup (`graft_group`, n_files, min/max per col)
    * is the only table a range probe reads in full. A consumer then
    * collects O(#surviving-groups) rollup rows + the file paths of
    * just those groups — never the whole listing. Pass the root as a
    * [[Manifest.TwoLevel]] to any manifest verb.
    *
    * No ceiling check here — bounding CONSUMER collects is this
    * layout's whole point. (Spark's own FileIndex still resolves the
    * directory listing driver-side at BUILD time, as it does for any
    * read of the table, and the build's zero-row diff is the same
    * driver set difference over that listing as the flat build's;
    * what this structure removes is every consumer re-collecting
    * O(#files) paths per probe.)
    *
    * Build cost: the same distributed stats aggregate as
    * [[statsManifest]], one planner-scale window (a single-reducer
    * row_number over #files stats ROWS — ~40 bytes each, 10⁷ files =
    * 400 MB through one task, acceptable for a build-once index), one
    * partitioned write. Incremental growth composes the way commits
    * do: re-run over a fresh commit dir and union the group tables
    * under distinct group id ranges ([[commitAppend]] posture).
    *
    * @return the group rollup (also persisted to
    *         `manifestDir/groups`; per-file rows at `manifestDir/files`
    *         partitioned by `graft_group`)
    */
  def statsManifestPartitioned(spark: org.apache.spark.sql.SparkSession,
      dir: String, cols: Seq[String], manifestDir: String,
      groupSize: Long = 8192L): DataFrame = {
    require(cols.nonEmpty, "need at least one stats column")
    require(groupSize > 0, s"groupSize must be positive, got $groupSize")
    val scan = openDir(spark, dir)
    // partition tuples are recorded exactly as the flat build does, and
    // the two-level reads share [[scan]], so snapshot reads reconstruct
    // partition columns with zero listings here too. A build is
    // grouping onto an empty layout: no tail group, no spare capacity.
    val grouped = assignGroups(fileStats(scan, scan.inputFiles.toSeq, cols),
      cols.head, groupSize, tailGroup = -1, cap = 0L)
    grouped.write.mode("overwrite").partitionBy("graft_group")
      .parquet(s"$manifestDir/files")
    groupRollup(grouped, cols)
      .write.mode("overwrite").parquet(s"$manifestDir/groups")
    spark.read.parquet(s"$manifestDir/groups")
  }

  /** Contiguous range groups: `rows` sorted by the lead column's min
    * first fill the `cap` free slots of `tailGroup`, then chunk into
    * fresh groups of `groupSize` — so a range probe's surviving groups
    * are a contiguous (and usually tiny) band. The ordering is one
    * row_number over `rows` through one task (planner-scale stats rows;
    * the file name breaks min ties so numbering is deterministic). */
  private def assignGroups(rows: DataFrame, lead: String, groupSize: Long,
      tailGroup: Int, cap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col(s"min_$lead").asc_nulls_last, col("file"))
    rows.withColumn("graft_rn", row_number().over(w).cast("long"))
      .withColumn("graft_group",
        when(col("graft_rn") <= cap, lit(math.max(tailGroup, 0)))
          .otherwise(lit(tailGroup + 1L) +
            floor((col("graft_rn") - cap - 1L) / lit(groupSize)))
          .cast("int"))
      .drop("graft_rn")
  }

  /** The per-group rollup of two-level file rows: file and row counts
    * plus each stats column's group-wide min/max — the table a probe
    * reads first. */
  private def groupRollup(files: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_files") +:
      sum(col("n_rows")).as("n_rows") +:
      cols.flatMap(c => Seq(
        min(col(s"min_$c")).as(s"min_$c"), max(col(s"max_$c")).as(s"max_$c")))
    files.groupBy("graft_group").agg(aggs.head, aggs.tail: _*)
  }

  /** Merge-on-read range probe — [[prunedRead]] over any [[Manifest]]
    * composed with the deletion-vector subtraction: admission prunes
    * (through the rollup first on a two-level manifest) and the DV
    * broadcast anti-join runs on the pruned scan — so a range probe
    * over a DV-mutated table pays O(surviving files) scan + O(deleted
    * rows) broadcast, never a table scan. The base stays a fresh
    * parquet scan (with only a filter on top), so the `_metadata`
    * address columns resolve and the file-path rendering matches
    * [[deletionVectors]]' (same contract as [[snapshotReadWithDeletes]]). */
  def prunedReadWithDeletes(spark: org.apache.spark.sql.SparkSession,
      dir: String, manifest: Manifest, colName: String,
      lo: Column, hi: Column, dv: DataFrame): DataFrame =
    applyDv(prunedRead(spark, dir, manifest, colName, lo, hi), dv)

  /** Incrementally extend a [[statsManifestPartitioned]] layout after
    * new files land in `dir` — the grouped sibling of [[extendManifest]]
    * with the same O(new data) contract: stats run over the NEW files
    * only, new rows append into the TAIL group while it has capacity
    * (then open fresh groups), and the group rollup is recomputed for
    * TOUCHED groups only (a partition-pruned read of just their file
    * rows). Existing file rows and untouched rollup rows are reused
    * verbatim — no whole-manifest window runs here; the only ordering
    * is a row_number over the new files' stats rows (O(new files)
    * through one task, the same planner-scale posture as the build's
    * documented single-reducer window).
    *
    * A rebuilt-from-scratch layout can GROUP differently (the build
    * re-sorts all files globally by the lead column's min); the read
    * contract is what extension preserves: group min/max stay exact,
    * so [[prunedRead]] over the extended layout returns exactly the
    * rows the rebuilt layout would (gate q112, spec) — a range probe
    * may just touch one extra group until the next rebuild.
    *
    * @return the refreshed group rollup (persisted to
    *         `manifestDir/groups`; new file rows appended under
    *         `manifestDir/files`) */
  def extendManifestGrouped(spark: org.apache.spark.sql.SparkSession,
      dir: String, manifestDir: String, cols: Seq[String],
      groupSize: Long = 8192L): DataFrame = {
    require(cols.nonEmpty, "need at least one stats column")
    require(groupSize > 0, s"groupSize must be positive, got $groupSize")
    val filesTab = spark.read.parquet(s"$manifestDir/files")
    val groups0 = spark.read.parquet(s"$manifestDir/groups")
    // one collect serves the new-file diff and the ceiling check, as in
    // the flat [[extendManifest]]
    val known = manifestFileSet(spark, filesTab)
    val fresh = newDataFilesKnown(spark, dir, known)
    if (fresh.isEmpty) groups0
    else {
      checkManifestCeiling(spark, known.size.toLong + fresh.length, dir)
      // fresh files read with basePath on a partitioned layout, as in
      // the flat [[extendManifest]]
      val newAll = fileStats(explicitFilesRead(spark, dir,
        isPartitioned(filesTab), fresh.toIndexedSeq), fresh.toIndexedSeq, cols)
      // tail-group capacity from the rollup (a #groups-row driver panel)
      val tailRow = groups0.agg(max("graft_group")).head()
      val tailGroup = if (tailRow.isNullAt(0)) -1 else tailRow.getInt(0)
      val cap =
        if (tailGroup < 0) 0L
        else math.max(0L, groupSize -
          groups0.filter(col("graft_group") === tailGroup)
            .select("n_files").head().getLong(0))
      val assigned = assignGroups(newAll, cols.head, groupSize, tailGroup, cap)
        .localCheckpoint(eager = true) // appended AND rolled up below
      assigned.write.mode("append").partitionBy("graft_group")
        .parquet(s"$manifestDir/files")
      // refresh rollup rows for TOUCHED groups only; reuse the rest
      val touched = assigned.select("graft_group").distinct()
        .collect().map(_.getInt(0)).toIndexedSeq
      val refreshed = groupRollup(spark.read.parquet(s"$manifestDir/files")
        .filter(col("graft_group").isin(touched: _*)), cols)
      // pinned before the overwrite: the union lazily reads the very
      // dir being replaced (same hazard as the index re-publish path).
      // Ckpt.forced: a correctness pin, exempt from the eager-conf
      // opt-out
      val newGroups = Ckpt.forced(
        groups0.filter(!col("graft_group").isin(touched: _*))
          .unionAll(refreshed.select(
            groups0.columns.map(col).toIndexedSeq: _*)))
      newGroups.write.mode("overwrite").parquet(s"$manifestDir/groups")
      spark.read.parquet(s"$manifestDir/groups")
    }
  }

  /** Hard driver-side ceiling for the manifest family. Every manifest
    * consumer ([[prunedRead]], [[extendManifest]]'s listing diff,
    * [[vacuumOrphans]]'s live-set, [[mergeIntoLayout]]'s overlap probe)
    * collects O(#files) path rows on the driver — the planner-scale
    * contract lake formats accept, measured here at 10^4–10^5 files
    * (soak entries `manifest_*_10k/100k_files`). Past ~10^6 files the
    * collects stop being planner-scale (~200 bytes/path ⇒ GBs of
    * driver heap) and the right fix is fewer files, not a bigger
    * driver — so manifests refuse to be BORN over more files than
    * `spark.graft.manifest.maxFiles` (default 10^6), which bounds every
    * downstream collect. Checked at [[statsManifest]] build and at each
    * [[extendManifest]] growth step. */
  private def checkManifestCeiling(spark: org.apache.spark.sql.SparkSession,
      nFiles: Long, dir: String): Unit = {
    val max = spark.conf.get("spark.graft.manifest.maxFiles", "1000000").toLong
    require(nFiles <= max,
      s"manifest over $dir would track $nFiles files, above the driver-side " +
        s"ceiling spark.graft.manifest.maxFiles=$max. Manifest consumers " +
        "collect O(#files) paths on the driver; at this file count compact " +
        "the table first (Layout.compact / compactSmall) or raise the conf " +
        "if the driver heap has headroom (~200 bytes per file per collect).")
  }

  /** The data-group aggregate cannot emit a row for a ZERO-ROW parquet
    * file (e.g. a schema-seed write): `groupBy(_metadata.file_path)`
    * only sees files with rows. Synthesize an `(n_rows=0, null min/max,
    * nulls=0)` entry for every data file the aggregate missed, so
    * zero-row files are tracked like any other — [[extendManifest]]
    * stops re-listing them as "new" on every refresh and
    * [[vacuumOrphans]] keeps them. Pruning semantics are unchanged:
    * null min/max never match a range probe, and `nulls(0) < n_rows(0)`
    * is false, so both pruned-read paths skip the file (correct — it
    * has no rows to lose). */
  private def zeroRowEntries(spark: org.apache.spark.sql.SparkSession,
      schema: StructType,
      missing: Seq[String]): Seq[org.apache.spark.sql.Row] = {
    // a zero-row file still has a real length (schema-only footer) —
    // stat it here, once, at build time, so the all-bytes-known
    // invariant the zero-listing read path needs stays intact.
    // O(#zero-row files) driver stats, normally zero.
    val conf = spark.sparkContext.hadoopConfiguration
    def sizeOf(p: String): Long =
      graft.io.PathResolver.fsFor(p, conf).getFileStatus(new Path(p)).getLen
    missing.map(p => org.apache.spark.sql.Row.fromSeq(schema.fieldNames.toSeq.map {
      case "file" => p
      case "bytes" => sizeOf(p)
      case n if n == "n_rows" || n.startsWith("nulls_") => 0L
      case _ => null
    }))
  }

  /** The scan's hive partition columns (empty for flat tables). */
  /** Byte-for-byte file copies do not carry hive partition values (the
    * values live in the DIRECTORY names, not the file bytes), so the
    * stream-copy maintenance ops ([[compactSmall]], [[mergeIntoLayout]],
    * [[compactDeletes]]) refuse partitioned inputs loudly — copied rows
    * would otherwise silently read with NULL partition columns in the
    * flat output. [[compact]] is the partitioned-table path: its full
    * rewrite materializes the partition columns into the output files. */
  private def refusePartitioned(spark: org.apache.spark.sql.SparkSession,
      inDir: String, op: String): DataFrame = {
    val scan = openDir(spark, inDir)
    val parts = partitionColsOf(scan)
    require(parts.isEmpty,
      s"$op cannot stream-copy files of a hive-partitioned table ($inDir " +
        s"is partitioned by ${parts.mkString(", ")}): copied leaf bytes do " +
        "not carry the partition values, so the flat output would silently " +
        "read those rows with NULL partition columns. Use compact (a full " +
        "rewrite materializes the partition columns) or run per partition " +
        "directory.")
    scan
  }

  private def partitionColsOf(df: DataFrame): Seq[String] =
    fsRelation(df).toSeq.flatMap(_.partitionSchema.map(_.name))

  private def statsAggs(cols: Seq[String]): Seq[Column] =
    count(lit(1)).as("n_rows") +:
      // exact file length, recorded at build time so reads can plan
      // scans straight from manifest rows with ZERO filesystem calls
      // ([[graft.io.ManifestFileIndex]]) — the Iceberg/Delta model
      first(col("_metadata.file_size")).as("bytes") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        count(when(col(c).isNull, 1)).as(s"nulls_$c")))

  /** HYBRID metadata count — `count(rows with lo <= col <= hi)` paying
    * data I/O only for files the range STRADDLES. Three file classes
    * from the manifest row alone:
    *   - fully contained (`lo <= min_c` and `max_c <= hi`, null count
    *     known): every non-null row matches → contributes
    *     `n_rows − nulls_c` with zero I/O (min/max ignore nulls, so
    *     containment says nothing about the null rows — they never
    *     satisfy a range and subtract exactly);
    *   - disjoint (`max_c < lo` or `min_c > hi`, or no non-null
    *     values): contributes zero with zero I/O;
    *   - straddling (or unknown nulls): scanned with the residual
    *     filter — the only data cost.
    * For a range-clustered table that is O(2 boundary files) of I/O
    * for an arbitrarily large range — the "how many rows in this day /
    * key span" introspection at metadata speed, exact including null
    * semantics (lake formats answer the fully-contained case from
    * stats; the straddle scan closes the gap exactly). Driver work is
    * one pass over the admitted manifest rows — on a two-level
    * manifest only the surviving groups' file rows. */
  def countRange(spark: org.apache.spark.sql.SparkSession, dir: String,
      manifest: Manifest, colName: String, lo: Column,
      hi: Column): Long = {
    val mn = col(s"min_$colName")
    val mx = col(s"max_$colName")
    val nl = col(s"nulls_$colName")
    val fully = mn >= lo && mx <= hi && nl.isNotNull
    // admission drops the disjoint files (no non-null value in range);
    // what it keeps is either fully contained or straddling
    val admitted = admit(spark, manifest, inRange(colName, lo, hi))
    val agg = admitted.agg(
      sum(when(fully, col("n_rows") - nl).otherwise(lit(0L))).as("meta"),
      count(when(!fully, 1)).as("straddle"))
      .head()
    val metaCount = if (agg.isNullAt(0)) 0L else agg.getLong(0)
    val scanned =
      if (agg.getLong(1) == 0L) 0L
      else scan(spark, dir, admitted.filter(!fully))
        .filter(col(colName) >= lo && col(colName) <= hi).count()
    metaCount + scanned
  }

  /** IS-NOT-NULL file skipping from the manifest's per-file null
    * counts (the third statistic real lake formats keep beside
    * min/max): a file whose `nulls_col` equals its row count provably
    * contains no matching row for an `IS NOT NULL` predicate — the
    * sparse-column case range stats can't help with (min/max of a
    * mostly-null column say nothing about which files hold the
    * non-null rows). Same probe/read/residual-filter contract as
    * [[prunedRead]]: skipping is planner-scale and lossless. */
  def prunedReadNotNull(spark: org.apache.spark.sql.SparkSession,
      dir: String, manifest: DataFrame, colName: String): DataFrame =
    // a NULL null-count (legacy manifest upgraded by alignManifestSchema)
    // means "unknown" — keep the file; skipping must stay lossless
    scan(spark, dir, manifest
      .filter(coalesce(col(s"nulls_$colName") < col("n_rows"), lit(true))))
      .filter(col(colName).isNotNull)

  /** Incrementally maintain a [[statsManifest]] after new files land in
    * `dir` (append-heavy table refresh): list the directory driver-side
    * (O(#files) — the same planner-scale metadata [[prunedRead]]
    * already collects), diff against the manifest's known paths, and
    * compute stats over the NEW files ONLY. The refresh costs O(new
    * data), never a re-scan of the table — per-file stats rows are
    * immutable once written (parquet files never mutate in place), so
    * old manifest rows are reused verbatim and the result equals a
    * rebuilt manifest exactly (spec-proven). Paths are compared
    * scheme-insensitively (URI path component) because `_metadata
    * .file_path` and `FileSystem.listStatus` render the same file with
    * different scheme spellings. */
  def extendManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      manifest: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one stats column")
    // one collect serves both the new-file diff and the ceiling check:
    // `file` is the manifest's unique key (one row per data file), so
    // the collected set's size IS the manifest's row count — a separate
    // manifest.count() was a second Spark action over the same frame
    // on every extend call
    val known = manifestFileSet(spark, manifest)
    val fresh = newDataFilesKnown(spark, dir, known)
    if (fresh.isEmpty) manifest
    else {
      // growth-step ceiling: extend is where a long-lived manifest
      // creeps past the bound one append at a time
      checkManifestCeiling(spark, known.size.toLong + fresh.length, dir)
      // a partitioned manifest (part_<col> columns) needs the fresh
      // files read with basePath so their partition values resolve —
      // an explicit-leaf-path read would silently lose them. Fresh
      // files that emit no stats row are zero-row files — their
      // synthesized entries stop them re-listing as "new"
      val stats = fileStats(explicitFilesRead(spark, dir,
        isPartitioned(manifest), fresh.toIndexedSeq), fresh.toIndexedSeq, cols)
      // single partition, same rationale as [[statsManifest]]'s return:
      // a persisted extend-chain otherwise snowballs part files (each
      // version's write inherits its predecessor's partitions plus the
      // wave's), so version k costs O(k) file opens to read and O(k)
      // task commits to write, with the manifest ceiling bounding rows
      // at planner scale either way
      alignManifestSchema(manifest, stats).unionAll(stats).coalesce(1)
    }
  }

  /** MANIFEST SCHEMA VERSION tolerance: the manifest schema gained
    * per-column `nulls_<col>` counts after the first release, so a
    * manifest persisted before that lacks them and a raw `unionAll`
    * fails with an anonymous column-count mismatch. Legacy manifests
    * are upgraded in place — missing `nulls_` columns are added as NULL
    * ("unknown", which [[prunedReadNotNull]] treats as unskippable);
    * any OTHER missing column is a real stats-column mismatch and fails
    * with an error that names the skew. */
  private def alignManifestSchema(manifest: DataFrame,
      stats: DataFrame): DataFrame = {
    val have = manifest.columns.toSet
    val missing = stats.schema.fields.filterNot(f => have.contains(f.name))
    // `nulls_*` (post-release addition), `bytes` (the zero-listing
    // read path's length column) and `part_*` (partition tuples) all
    // upgrade in place as NULL — "unknown", which the consumers that
    // need them fall back on
    val (upgradable, incompatible) = missing.partition(f =>
      f.name.startsWith("nulls_") || f.name == "bytes" ||
        f.name.startsWith("part_"))
    require(incompatible.isEmpty,
      s"manifest schema mismatch: persisted manifest lacks column(s) " +
        s"${incompatible.map(_.name).mkString(", ")} — it was built with " +
        "different stats columns than this extend call requests")
    // the other direction must ALSO fail loudly: an extend call with a
    // NARROWER cols set would otherwise silently project away the
    // manifest's existing per-column statistics (the final select drops
    // anything stats doesn't carry) — destroying data a later
    // prunedRead depends on instead of erroring
    val statsCols = stats.columns.toSet
    val dropped = manifest.columns.filterNot(statsCols.contains)
    require(dropped.isEmpty,
      s"manifest schema mismatch: extend would DROP persisted stats " +
        s"column(s) ${dropped.mkString(", ")} — this extend call requests " +
        "fewer stats columns than the manifest carries; pass the original " +
        "column set (or rebuild the manifest) instead")
    upgradable.foldLeft(manifest) { (d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(stats.columns.map(col).toIndexedSeq: _*)
  }

  private def uriPath(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** [[uriPath]] as a Column — strips a `scheme:` / `scheme://authority`
    * prefix so manifest joins compare the same path component the
    * driver-side consumers do ([[extendManifest]], [[liveFileSet]]):
    * the same file renders as `file:/...` in `_metadata.file_path` but
    * `/...` from a persisted-and-reloaded manifest. */
  private def uriPathCol(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:(//[^/]*)?", "")

  /** Data files in `dir` absent from the index's `file` column — the
    * driver-side listing diff every incremental index maintainer shares
    * ([[extendManifest]], [[extendBloomIndex]]). Paths compare
    * scheme-insensitively (URI path component) because
    * `_metadata.file_path` and `FileSystem.listStatus` render the same
    * file with different scheme spellings. Descends into hive-style
    * `col=value` partition directories (recursively — multi-level
    * partitioning nests them) but NEVER into other subdirectories:
    * commit-dir layouts deliberately keep their epochs invisible to a
    * root-level extend. */
  private def manifestFileSet(spark: org.apache.spark.sql.SparkSession,
      index: DataFrame): Set[String] =
    index.select("file").collect().map(r => uriPath(r.getString(0))).toSet

  private def newDataFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String, index: DataFrame): Array[String] =
    newDataFilesKnown(spark, dir, manifestFileSet(spark, index))

  private def newDataFilesKnown(spark: org.apache.spark.sql.SparkSession,
      dir: String, known: Set[String]): Array[String] = {
    val fs = graft.io.PathResolver.fsFor(dir,
      spark.sparkContext.hadoopConfiguration)
    dataFilePaths(fs, dir).map(_.toString)
      .filter(p => !known.contains(uriPath(p)))
  }

  /** Data-file listing discipline shared by the extend diffs and
    * [[vacuumOrphans]]: skips metadata/hidden entries, descends
    * recursively into hive-style `col=value` partition directories
    * (multi-level partitioning nests them) but NEVER into other
    * subdirectories — commit-dir layouts deliberately keep their
    * epochs invisible to a root-level listing. */
  private def dataFilePaths(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Array[org.apache.hadoop.fs.Path] = {
    def list(p: org.apache.hadoop.fs.Path)
        : Array[org.apache.hadoop.fs.Path] =
      fs.listStatus(p).flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith("."))
          Array.empty[org.apache.hadoop.fs.Path]
        else if (st.isFile) Array(st.getPath)
        else if (name.contains("=")) list(st.getPath)
        else Array.empty[org.apache.hadoop.fs.Path]
      }
    list(new org.apache.hadoop.fs.Path(dir))
  }

  /** Range read that SKIPS files whose `[min, max]` interval from the
    * manifest cannot contain a match, then applies the residual filter
    * to the survivors.
    *
    * Parquet already prunes row groups from footer stats, but it must
    * still list, open, and read the footer of EVERY file; at 100 TB
    * (millions of files) the manifest probe removes non-matching files
    * from the scan's file list before any of that I/O happens — the
    * file-skipping half of a lake-format reader, without the format.
    * The manifest filter collects only the surviving file PATHS
    * (O(#files) planner metadata, never data rows; on a
    * [[Manifest.TwoLevel]] only the surviving groups' rows). Correctness
    * does not depend on the layout: overlapping or stale-but-superset
    * manifests only cost extra files, and the residual filter keeps the
    * result exact — equal to a full scan with the same predicate, which
    * is exactly what the q69 oracle checks.
    */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, dir: String,
      manifest: Manifest, colName: String, lo: Column, hi: Column): DataFrame =
    scan(spark, dir, admit(spark, manifest, inRange(colName, lo, hi)))
      .filter(col(colName) >= lo && col(colName) <= hi)

  /** Manifest rows that can hold a match — the admission step every
    * manifest consumer shares. `test` keeps the rows whose
    * `min_<c>`/`max_<c>` span can match ([[inRange]], [[holdsKey]]). A
    * two-level rollup carries the same span columns per group, so
    * there the test runs on the rollup first, the surviving
    * `graft_group` ids are collected, and file rows are read only at
    * those partitions before the same test applies to them: driver
    * work is O(groups-touched · groupSize) rows, never O(#files). A
    * flat manifest is the one-group case. */
  private def admit(spark: org.apache.spark.sql.SparkSession,
      manifest: Manifest, test: DataFrame => DataFrame): DataFrame =
    manifest match {
      case Manifest.Rows(rows) => test(rows)
      case Manifest.TwoLevel(root) =>
        val gids = test(spark.read.parquet(s"$root/groups"))
          .select("graft_group").collect().map(_.getInt(0))
        test(spark.read.parquet(s"$root/files")
          .filter(col("graft_group").isInCollection(gids.toSeq)))
    }

  /** Range admission: the file's span meets `[lo, hi]`. */
  private def inRange(colName: String, lo: Column,
      hi: Column): DataFrame => DataFrame =
    _.filter(col(s"max_$colName") >= lo && col(s"min_$colName") <= hi)

  /** Key admission: the file's span holds at least one of `keys` — the
    * range semi-join against the BROADCAST key set that
    * [[joinSkipFiles]] documents (null stats drop out). */
  private def holdsKey(keys: DataFrame,
      keyCol: String): DataFrame => DataFrame =
    _.join(broadcast(keys.select(col(keyCol).as("graft_k"))),
      col("graft_k") >= col(s"min_$keyCol") &&
        col("graft_k") <= col(s"max_$keyCol"), "left_semi")

  /** Read exactly the files the admitted manifest rows name — the one
    * scan every manifest consumer shares: zero-listing through
    * [[manifestRead]] when the rows carry bytes, else the explicit-path
    * read ([[explicitFilesRead]], `basePath`-correct for partitioned
    * manifests). */
  private def scan(spark: org.apache.spark.sql.SparkSession, dir: String,
      admitted: DataFrame): DataFrame =
    manifestRead(spark, admitted).getOrElse {
      val keep = admitted.select("file").collect().map(_.getString(0))
      explicitFilesRead(spark, dir, isPartitioned(admitted),
        keep.toIndexedSeq)
    }

  /** TIME-TRAVEL read of an append-only table: a stats manifest is a
    * consistent snapshot — parquet files are immutable and appends only
    * ADD files — so reading exactly the manifest's file list reproduces
    * the table AS OF the moment that manifest was taken. No transaction
    * log, no tombstones: retained manifests ARE the version history
    * (the core of the Iceberg/Delta snapshot idea, restricted to the
    * append-only case the manifest family already maintains). Planner
    * cost is the O(#files) path collect every manifest consumer pays;
    * files added after the manifest are simply never listed, so a
    * concurrent append cannot tear the snapshot. */
  def snapshotRead(spark: org.apache.spark.sql.SparkSession, dir: String,
      manifest: DataFrame): DataFrame =
    scan(spark, dir, manifest)

  /** Whether manifest rows carry hive partition tuples (`part_<col>`). */
  private def isPartitioned(manifest: DataFrame): Boolean =
    manifest.columns.exists(_.startsWith("part_"))

  /** Explicit-path listing fallback shared by every manifest consumer:
    * a PARTITIONED manifest's surviving files must be read with
    * `basePath` so the partition columns an explicit-leaf read would
    * silently drop still resolve against the `col=value` dirs. */
  private def explicitFilesRead(spark: org.apache.spark.sql.SparkSession,
      dir: String, partitioned: Boolean, files: Seq[String]): DataFrame =
    if (files.isEmpty) openDir(spark, dir).limit(0)
    else openPaths(spark, files, if (partitioned) Some(dir) else None)

  /** [[explicitFilesRead]] for index consumers whose index carries no
    * partition tuples (bloom / join-skip file lists): a partitioned
    * table's leaf files live in `col=value` dirs, so partitioning is
    * detected from the admitted PATHS themselves — zero extra I/O —
    * and the read gets basePath. Without it a probe's result would
    * silently lack the partition columns the full scan carries. */
  private def explicitIndexRead(spark: org.apache.spark.sql.SparkSession,
      dir: String, files: Seq[String]): DataFrame =
    explicitFilesRead(spark, dir,
      files.exists(p => new org.apache.hadoop.fs.Path(p)
        .getParent.getName.contains("=")), files)

  /** The ZERO-LISTING read: when the manifest carries exact `bytes`
    * (recorded from `_metadata.file_size` at build time), plan the scan
    * straight from its rows through [[graft.io.ManifestFileIndex]] —
    * no per-query directory listing or stat pass, the Iceberg/Delta
    * planning model. One footer read (schema) is the only filesystem
    * touch. None = legacy manifest (no/unknown bytes) or empty —
    * caller falls back to the explicit-path listing read. */
  private def manifestRead(spark: org.apache.spark.sql.SparkSession,
      manifest: DataFrame): Option[DataFrame] = {
    if (!manifest.columns.contains("bytes")) return None
    val partFields = manifest.schema.fields.toSeq
      .filter(_.name.startsWith("part_"))
    val wanted = Seq(col("file"), col("bytes")) ++
      partFields.map(f => col(f.name))
    val rows = manifest.select(wanted: _*).collect()
    if (rows.isEmpty || rows.exists(_.isNullAt(1))) None
    else if (partFields.isEmpty)
      Some(manifestScan(spark,
        rows.map(r => (r.getString(0), r.getLong(1))).toIndexedSeq))
    else if (rows.exists(r =>
        partFields.indices.exists(i => r.isNullAt(2 + i))))
      None // unknown partition value (legacy row) — listing fallback
    else {
      val partSchema = org.apache.spark.sql.types.StructType(
        partFields.map(f => org.apache.spark.sql.types.StructField(
          f.name.stripPrefix("part_"), f.dataType, nullable = true)))
      val toCat = partFields.map(f =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(f.dataType))
      val files = rows.map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
      val values = rows.map(r =>
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          partFields.indices.map(i => toCat(i)(r.get(2 + i)))))
        .toIndexedSeq
      Some(manifestScan(spark, files, partSchema, values))
    }
  }

  /** A parquet DataFrame over exactly these `(path, length)` pairs,
    * planned with zero filesystem calls ([[graft.io.ManifestFileIndex]])
    * and no Spark job: the schema is the driver-side [[footerSchema]] of
    * the first file, the only filesystem touch. Partition columns, when
    * given, come from the manifest's recorded tuples and are appended
    * after the data columns exactly as a root-dir read would. */
  private def manifestScan(spark: org.apache.spark.sql.SparkSession,
      files: Seq[(String, Long)],
      partSchema: StructType = StructType(Nil),
      partValues: Seq[org.apache.spark.sql.catalyst.InternalRow] = Nil)
      : DataFrame = {
    val (head, len) = files.head
    parquetRelation(spark,
      new graft.io.ManifestFileIndex(spark, files, partSchema, partValues),
      footerSchema(spark, new FileStatus(len, false, 1, 0L, 0L, new Path(head))))
  }

  /** The parquet DataFrame over `index` with `dataSchema` — the relation
    * `spark.read.parquet` builds after inference, and the one
    * constructor [[manifestScan]] and [[openPaths]] share. Partition
    * columns are the index's own. */
  private def parquetRelation(spark: org.apache.spark.sql.SparkSession,
      index: FileIndex, dataSchema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.baseRelationToDataFrame(HadoopFsRelation(index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(cs))
  }

  /** `file`'s parquet footer, read on the driver — one open, no job. */
  private def footer(conf: org.apache.hadoop.conf.Configuration,
      file: FileStatus,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), filter)

  /** The schema `spark.read.parquet(file).schema` infers, from one
    * driver-side footer read instead of Spark's one-task inference job.
    * It is the conversion inference runs: the same converter settings
    * (binary-as-string, INT96-as-timestamp, timestamp_ntz inference,
    * nanos-as-long and unknown-type annotations from the session; the
    * rest at their defaults), Spark's row-metadata key preferred over
    * the parquet types, and every field nullable, as Spark's reader
    * declares a file source's data schema. */
  private[graft] def footerSchema(spark: org.apache.spark.sql.SparkSession,
      file: FileStatus): StructType =
    schemaOf(spark, file.getPath, footer(hadoopConf(spark), file,
      ParquetMetadataConverter.SKIP_ROW_GROUPS))

  /** [[footerSchema]] of an already-read footer. */
  private def schemaOf(spark: org.apache.spark.sql.SparkSession, file: Path,
      meta: ParquetMetadata): StructType = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, meta), converter)).asInstanceOf[StructType]
  }

  /** The session's Hadoop conf, the one Spark's own reads list and open
    * files with (session-level filesystem settings included). */
  private def hadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  /** `dt` with every field, element and map value nullable (Spark's
    * `asNullable`, which is not public). */
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** `spark.read.parquet(dir)` without the schema-inference job
    * ([[openPaths]]). */
  private[graft] def openDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    openPaths(spark, Seq(dir), None)

  /** `spark.read.parquet(paths: _*)` (with `basePath`, when given)
    * without the schema-inference job: one listing into Spark's own
    * `InMemoryFileIndex` (partition discovery and types included), then
    * the [[footerSchema]] of the file inference would read (a
    * `_common_metadata` or `_metadata` summary first, else the first
    * data file by path) and the same relation Spark builds. Falls back
    * to the plain read wherever that read would not come down to one
    * footer: a glob, a streaming sink's output (`_spark_metadata`),
    * `mergeSchema` on, no file to read a schema from, or a named file
    * the listing did not find (the index skips a missing root, where
    * Spark's read raises its own error). */
  private def openPaths(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String], basePath: Option[String]): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = hadoopConf(spark)
    val options = basePath.map("basePath" -> _).toMap
    def plain = spark.read.options(options).parquet(paths: _*)
    if (cs.sessionState.conf.isParquetSchemaMergingEnabled ||
        paths.exists(_.exists("{}[]*?\\".contains(_))) ||
        FileStreamSink.hasMetadata(paths, conf, cs.sessionState.conf))
      return plain
    val roots = paths.map { p =>
      val path = new Path(p)
      path.getFileSystem(conf).makeQualified(path)
    }
    val index = new InMemoryFileIndex(cs, roots, options, None,
      FileStatusCache.getOrCreate(cs))
    val files = index.allFiles().sortBy(_.getPath.toString)
    val found = roots.length == 1 || roots.forall(files.map(_.getPath).toSet)
    def named(n: String) = files.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !f.getPath.getName.startsWith("_")))
      .filter(_ => found)
      .map(f => parquetRelation(spark, index, footerSchema(spark, f)))
      .getOrElse(plain)
  }

  /** Data files and lengths of an [[openDir]] (or any file-source)
    * scan, as its index lists them — no filesystem call. */
  private def indexedFiles(scan: DataFrame): Seq[FileStatus] =
    fsRelation(scan).toSeq.flatMap(_.location.listFiles(Nil, Nil))
      .flatMap(_.files.map(_.fileStatus))

  private def fsRelation(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
    }.collect { case fs: HadoopFsRelation => fs }

  /** One append COMMIT: write `df` under its own commit directory inside
    * `dir` and return the manifest rows for EXACTLY the files this
    * commit produced. This is the write primitive BRANCHES are built
    * from (the Iceberg branch/tag model, public docs: a branch is a
    * named lineage of snapshots over a shared file store): a branch's
    * state is the union of its commits' manifest rows, so two writers
    * on different branches never race on a shared directory listing —
    * each commit directory is written once, by one writer, and readers
    * only ever see files their branch's manifest names. [[snapshotRead]]
    * / [[prunedRead]] / [[readWithDeletes]] work unchanged on branch
    * manifests (they read explicit file paths, never the listing).
    *
    * Scale: the commit write IS the data write (no extra pass); the
    * returned manifest is the O(#files-in-commit) stats aggregate over
    * just the new files, same contract as [[extendManifest]]'s
    * O(new-data) refresh. */
  def commitAppend(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      dir: String, statsCols: Seq[String]): DataFrame = {
    val cdir = s"$dir/commit-" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    df.write.parquet(cdir)
    statsManifest(spark, cdir, statsCols)
  }

  /** PROVENANCE read — [[snapshotRead]] with each row tagged by the
    * commit that produced it: pure `_metadata.file_path` arithmetic
    * over [[commitAppend]]'s commit-dir naming contract, so lineage
    * costs ZERO stored columns and zero write overhead (the q109
    * pattern as a reusable op; rows written outside a commit dir get
    * an empty commit_id). "Which ingest batch produced this training
    * row" becomes an ordinary GROUP BY commit_id. */
  def lineageRead(spark: org.apache.spark.sql.SparkSession, dir: String,
      manifest: DataFrame): DataFrame =
    snapshotRead(spark, dir, manifest)
      .withColumn("commit_id", regexp_extract(
        col("_metadata.file_path"), "(commit-[0-9a-f]+)", 1))

  /** FAST-FORWARD MERGE of an append-only branch into main: main's
    * manifest plus every branch file main does not already track. For
    * append-only tables the fork base is main's subset of the branch,
    * so `branch − main` (an anti-join on the file path, O(#files)
    * planner-scale) is exactly the branch's own commits — no conflict
    * is possible because neither side mutates files. Deletion vectors
    * merge separately by DV union ([[readWithDeletes]] composes DVs by
    * `unionAll.distinct`), mirroring how the DV gates compose waves.
    *
    * PRECONDITION — each input manifest must be file-DISTINCT (one row
    * per file), which [[commitAppend]] unions are by construction: a
    * duplicated file row would survive the anti-join and make
    * [[snapshotRead]] read that file twice. File identity is the
    * scheme-insensitive URI path (same normalization as every other
    * manifest consumer): a base file spelled `file:/...` in one
    * manifest and `/...` in a persisted-and-reloaded one must still
    * dedupe, or snapshotRead would read it twice. */
  def mergeBranch(main: DataFrame, branch: DataFrame): DataFrame = {
    val mainKeys = main.select(uriPathCol(col("file")).as("graft_file_key"))
    main.unionAll(branch
      .withColumn("graft_file_key", uriPathCol(col("file")))
      .join(mainKeys, Seq("graft_file_key"), "left_anti")
      .drop("graft_file_key"))
  }

  /** [[mergeBranch]] with a DIVERGENCE DETECTOR. The fast-forward
    * contract is append-only histories: shared files are the common
    * fork base and neither side mutated them. A DIVERGED history —
    * one branch deleted rows of a shared file via its DV set while the
    * other retained (or differently deleted) them — breaks that
    * contract, and the plain union would silently pick one side's
    * semantics. This variant REFUSES, naming the files, when the two
    * DV sets disagree (symmetric difference of (file, pos) rows is
    * non-empty) on any file BOTH manifests track. Files only one side
    * tracks cannot conflict (the other side never saw them), and a
    * deliberate DV-union merge remains available as
    * `mergeBranch(...)` + `dvA.unionAll(dvB).distinct` for callers who
    * MEAN compose-the-deletes.
    *
    * Cost: one distinct + anti-join pass over the two DV tables
    * (delta-scale rows: two longs each) semi-joined against the shared
    * planner-scale file keys; the detector collects at most 10 sample
    * conflict paths for the error message. */
  def mergeBranchChecked(main: DataFrame, branch: DataFrame,
      mainDv: DataFrame, branchDv: DataFrame): DataFrame = {
    val shared = main.select(uriPathCol(col("file")).as("graft_file_key"))
      .join(branch.select(uriPathCol(col("file")).as("graft_file_key")),
        Seq("graft_file_key"), "left_semi")
      .distinct()
    def keyed(dv: DataFrame): DataFrame = dv
      .select(uriPathCol(col("file")).as("graft_file_key"), col("pos"))
      .distinct()
    val a = keyed(mainDv); val b = keyed(branchDv)
    val conflicts = a.exceptAll(b).unionAll(b.exceptAll(a))
      .join(shared, Seq("graft_file_key"), "left_semi")
      .select("graft_file_key").distinct()
      .orderBy("graft_file_key").limit(10)
      .collect().map(_.getString(0))
    if (conflicts.nonEmpty)
      throw new IllegalStateException(
        "diverged merge refused: deletion-vector sets disagree on shared " +
        s"file(s) ${conflicts.mkString("[", ", ", "]")} — the branches did " +
        "not fork append-only. Resolve the delete explicitly (compose DVs " +
        "with unionAll.distinct if the deletes should MERGE, or compact " +
        "the file out on one side) before fast-forwarding.")
    mergeBranch(main, branch)
  }

  /** Per-file BLOOM INDEX for point lookups on an UNCLUSTERED column —
    * the file-skipping case [[statsManifest]] cannot serve: min/max
    * ranges on a column uncorrelated with the layout cover everything,
    * so a point predicate prunes nothing. The Delta/Iceberg answer is a
    * bloom filter per file; here the filter is k salted-hash bit
    * positions in an m-bit space, stored as each file's DISTINCT bit
    * set (≤ min(m, k·distinct-values) ints per file — index size is
    * O(#files · m) worst case, planner-scale). A value can hide in a
    * file only if ALL k of its bit positions are present, so skipping
    * never loses a row (false positives only ADD files — tune m/k to
    * the per-file distinct count to keep them rare). The hash is the
    * engine-wide md5-derived h64, so the index is engine-portable and
    * the gate replays it in SQL. */
  def bloomIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      colName: String, mBits: Int = 4096, kHashes: Int = 3): DataFrame = {
    require(mBits > 0 && kHashes >= 1, s"need mBits > 0, kHashes >= 1")
    bitSets(spark.read.parquet(dir), col(colName), mBits, kHashes)
  }

  /** One bit set per file of `scan`: the k salted bit positions of
    * every `value` (a column, or a generator such as a token explode),
    * folded into the file's distinct set. Shared by both bloom
    * flavours' builds and extends, so the bits come from one
    * definition. */
  private def bitSets(scan: DataFrame, value: Column, mBits: Int,
      kHashes: Int): DataFrame =
    scan.select(col("_metadata.file_path").as("file"), value.as("graft_v"))
      .select(col("file"), explode(array((0 until kHashes).map(i =>
        bloomBit(col("graft_v"), i, mBits)): _*)).as("bit"))
      .groupBy("file")
      .agg(collect_set(col("bit")).as("bits"))

  /** Index rows for the files of `dir` absent from `index`, built by
    * `build` over a scan of just those files and appended — per-file
    * bit sets are immutable, so existing rows are reused verbatim. */
  private def extendBitSets(spark: org.apache.spark.sql.SparkSession,
      dir: String, index: DataFrame)(build: DataFrame => DataFrame): DataFrame = {
    val fresh = newDataFiles(spark, dir, index)
    if (fresh.isEmpty) index
    else index.unionAll(build(spark.read.parquet(fresh.toIndexedSeq: _*)))
      // planner-scale rows; the groupBy's exchange keeps the hashing
      // distributed — only the final tiny agg + union run single-task
      // (persisted extend-chains otherwise snowball part files)
      .coalesce(1)
  }

  /** Whether a bloom index row's bit set holds all k positions of `v`. */
  private def bloomHit(v: Column, mBits: Int, kHashes: Int): Column =
    (0 until kHashes)
      .map(i => array_contains(col("bits"), bloomBit(v, i, mBits)))
      .reduce(_ && _)

  /** Sentinel row name under which a SELF-DESCRIBING bloom index stores
    * its own (mBits, kHashes) — a value that can never collide with a
    * real file path. */
  private[graft] val BloomMetaKey = "_graft_bloom_meta"

  /** [[bloomIndex]] with SIZE CHOSEN FROM THE DATA and recorded inside
    * the index itself. Two real failure modes motivate this:
    *   - a fixed mBits saturates once per-file key cardinality
    *     outgrows it (4096 bits ≡ admit-all at ~60k keys/file) —
    *     merely unselective, but silently worthless;
    *   - a consumer probing with mBits different from the build's is
    *     LOSSY (every probe bit lands elsewhere — files with matches
    *     get rejected).
    * The build measures max per-file approx distinct keys, sizes
    * `mBits = nextPow2(bitsPerKey × maxKeys)` (floor 4096, cap 2²⁴ ≈
    * 2 MB of set bits per full file), and appends a sentinel row
    * (`file = "_graft_bloom_meta"`, `bits = [mBits, kHashes]`) so
    * [[joinSkipFilesBloom]] / `ScanPruneRewrite.registerBloomsSelf`
    * probe with exactly the build's parameters — the mismatch class is
    * structurally gone. approx_count_distinct only affects SIZING
    * (±5% error moves the power-of-two rounding, never correctness). */
  def bloomIndexSized(spark: org.apache.spark.sql.SparkSession,
      dir: String, colName: String, bitsPerKey: Int = 10,
      kHashes: Int = 3): DataFrame = {
    require(bitsPerKey >= 2, s"bitsPerKey must be >= 2, got $bitsPerKey")
    val maxKeys = spark.read.parquet(dir)
      .groupBy(col("_metadata.file_path"))
      .agg(approx_count_distinct(col(colName)).as("n"))
      .agg(max(col("n"))).head() match {
        case r if r.isNullAt(0) => 1L
        case r => math.max(1L, r.getLong(0))
      }
    val mBits = math.min(1L << 24,
      java.lang.Long.highestOneBit(
        math.max(4096L, bitsPerKey * maxKeys) * 2 - 1)).toInt
    val meta = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(BloomMetaKey,
          Seq(mBits.toLong, kHashes.toLong))),
      new org.apache.spark.sql.types.StructType()
        .add("file", "string", false)
        .add("bits", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, false), false))
    bloomIndex(spark, dir, colName, mBits, kHashes).unionAll(meta)
  }

  /** The (mBits, kHashes) a [[bloomIndexSized]] index was built with;
    * None for a plain [[bloomIndex]] (whose consumers must pass the
    * build's sizes explicitly). */
  def bloomMeta(index: DataFrame): Option[(Int, Int)] =
    index.filter(col("file") === BloomMetaKey)
      .select("bits").collect().headOption.map { r =>
        val s = r.getSeq[Long](0)
        (s(0).toInt, s(1).toInt)
      }

  /** Bit position `i` of a value under the engine-portable salted h64.
    * `private[graft]` so [[graft.plans.ScanPruneRewrite]] can evaluate
    * the SAME expression driver-side for its bloom admission — the bit
    * positions must come from one definition or skipping silently
    * drops matching files. */
  private[graft] def bloomBit(v: Column, i: Int, mBits: Int): Column =
    pmod(graft.functions.TextFunctions.h64(
      concat_ws("-", lit(s"graft-bloom-$i"), v.cast("string"))), lit(mBits))

  /** Incrementally maintain a [[bloomIndex]] after new files land —
    * same contract as [[extendManifest]]: per-file bit sets are
    * immutable once written, so the refresh hashes the NEW files only
    * and reuses every existing row verbatim; the result equals a
    * rebuilt index exactly (spec-proven). O(new data), never a table
    * re-scan — the append-heavy refresh a point-lookup index needs to
    * stay live on a growing table. */
  def extendBloomIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      index: DataFrame, colName: String, mBits: Int = 4096,
      kHashes: Int = 3): DataFrame =
    extendBitSets(spark, dir, index)(bitSets(_, col(colName), mBits, kHashes))

  /** Point-lookup scan through a [[bloomIndex]]: keep only files whose
    * bit set contains ALL k positions of `value`, then scan those files
    * with the equality filter. The probe collects file PATHS only (the
    * same O(#files) planner-scale collect every manifest consumer
    * pays); a false positive costs one extra file scan, never a wrong
    * row — the final filter makes the result exactly the full-scan
    * equality. */
  def bloomRead(spark: org.apache.spark.sql.SparkSession, dir: String,
      index: DataFrame, colName: String, value: Column,
      mBits: Int = 4096, kHashes: Int = 3): DataFrame = {
    val keep = index.filter(bloomHit(value, mBits, kHashes))
      .select("file").collect().map(_.getString(0))
    explicitIndexRead(spark, dir, keep.toIndexedSeq)
      .filter(col(colName) === value)
  }

  /** DYNAMIC FILE SKIPPING FOR JOINS — the file-level runtime filter.
    * Given a fact table's stats manifest and the JOIN-KEY SET of the
    * (already filtered) dimension side, return the files whose
    * [min, max] span can contain at least one dim key. Every other
    * file provably joins to nothing, so an inner/semi equi-join that
    * reads only the admitted files is row-identical to the full-scan
    * join — the same soundness argument as [[prunedRead]]'s, with the
    * predicate supplied by DATA instead of a literal.
    *
    * This is the star-schema shape Spark's own runtime Bloom filter
    * (row-level, post-scan) cannot reach: at 100 TB the win is never
    * OPENING the non-matching fact files. Against a key-clustered
    * layout ([[compact]] / [[optimizeZorder]]) a selective dim filter
    * admits O(matching key ranges) files; the admission itself is one
    * planner-scale range semi-join (manifest rows × BROADCAST dim
    * keys — dim-after-filter is delta-scale by the same contract every
    * runtime filter relies on). Files whose stats are null (all-null
    * key, zero rows) drop out: a null key never equi-joins. */
  def joinSkipFiles(manifest: DataFrame, dimKeys: DataFrame,
      keyCol: String): DataFrame =
    holdsKey(dimKeys.select(col(keyCol)).distinct(), keyCol)(manifest)
      .select("file")

  /** [[joinSkipFiles]] against a SELF-DESCRIBING [[bloomIndexSized]]
    * index instead of a range manifest — the adverse-layout case: when
    * the table is clustered by some OTHER column, every file's
    * [min, max] span on the join key is the whole domain and range
    * admission keeps everything, but the per-file Bloom still rejects
    * files holding none of the dim keys. A file is admitted when ANY
    * dim key's k bit positions are all present (false positives only
    * ADD files — the downstream join keeps the result exact).
    *
    * Cost: a nested-loop semi-join of O(#files) index rows against the
    * BROADCAST key set — O(#files · #dimKeys) bit probes, planner ×
    * delta scale (the honest price every per-file secondary index pays
    * for a key-set probe; Iceberg's bloom admission is the same
    * arithmetic per file per literal). */
  def joinSkipFilesBloom(index: DataFrame, dimKeys: DataFrame,
      keyCol: String): DataFrame = {
    val (m, k) = bloomMeta(index).getOrElse(throw new IllegalArgumentException(
      "index carries no _graft_bloom_meta row — joinSkipFilesBloom " +
        "requires a self-describing bloomIndexSized index (a plain " +
        "bloomIndex probed with foreign sizes would LOSE matching files)"))
    index.filter(col("file") =!= BloomMetaKey)
      .join(broadcast(dimKeys.select(col(keyCol).as("graft_jk")).distinct()),
        bloomHit(col("graft_jk"), m, k), "left_semi")
      .select("file")
  }

  /** The join-pruned fact scan: read ONLY the files [[joinSkipFiles]]
    * admits (further intersected with a Bloom admission when `bloom`
    * carries a [[bloomIndexSized]] index — range and Bloom evidence
    * compose by AND, since each alone is a no-false-negative filter).
    * With a manifest the admitted rows plan the scan like every other
    * manifest read (zero-listing when they carry bytes; on a
    * [[Manifest.TwoLevel]] the rollup is probed first, so no consumer
    * collects the whole listing).
    * The caller's equi-join on `keyCol` lands on top unchanged; for
    * inner/semi joins the result is row-identical to joining the full
    * scan (spec-proven across clustered and scattered layouts). Use
    * [[BloomPrune.prunedJoin]] above this read to also drop
    * non-matching ROWS inside admitted files before the exchange. */
  def joinSkipRead(spark: org.apache.spark.sql.SparkSession, dir: String,
      manifest: Option[Manifest], bloom: Option[DataFrame],
      dimKeys: DataFrame, keyCol: String): DataFrame = {
    require(manifest.nonEmpty || bloom.nonEmpty,
      "joinSkipRead needs a stats manifest, a bloom index, or both")
    // two consumers when both indexes are present (and two probes on a
    // two-level manifest) — pin the key set
    val keys = dimKeys.select(col(keyCol)).distinct().ckpt
    val bloomFiles = bloom.map(b => joinSkipFilesBloom(b, keys, keyCol)
      .collect().map(_.getString(0)).toSet)
    manifest match {
      case Some(m) =>
        val admitted = admit(spark, m, holdsKey(keys, keyCol))
        scan(spark, dir, bloomFiles.fold(admitted)(f =>
          admitted.filter(col("file").isInCollection(f))))
      case None => explicitIndexRead(spark, dir, bloomFiles.get.toSeq.sorted)
    }
  }

  /** FULL-TEXT file skipping: a per-file Bloom filter over the TOKEN
    * SET of a text column — the needle-in-a-haystack case neither
    * min/max manifests (text is unclustered) nor the value-level
    * [[bloomIndex]] (the column holds whole documents, not the probed
    * token) can serve. One pass over the table explodes each document's
    * distinct normalized tokens ([[graft.functions.TextFunctions.tokens]]
    * semantics — the engine's one tokenizer) into k salted bit
    * positions and folds them into one bit set per file; the index is
    * O(#files · min(mBits, tokens-per-file · k)) rows of longs.
    *
    * At 100 TB this is the log-grep shape: a rare-term search reads
    * only files whose bloom admits ALL k positions — a false positive
    * costs one extra file scan, never a wrong row, and a miss costs
    * zero I/O. Default mBits is larger than [[bloomIndex]]'s because a
    * file's token vocabulary (thousands) is much wider than its values
    * of one keyed column. */
  def tokenBloomIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      textCol: String, mBits: Int = 65536, kHashes: Int = 3): DataFrame = {
    require(mBits > 0 && kHashes >= 1, s"need mBits > 0, kHashes >= 1")
    bitSets(spark.read.parquet(dir), distinctTokens(textCol), mBits, kHashes)
  }

  /** Each document's distinct normalized tokens, one row per token. */
  private def distinctTokens(textCol: String): Column =
    explode(array_distinct(graft.functions.TextFunctions.tokens(col(textCol))))

  /** Incrementally maintain a [[tokenBloomIndex]] after new files land —
    * [[extendBloomIndex]]'s exact contract (per-file bit sets are
    * immutable; only the NEW files are tokenized; ≡ rebuild,
    * spec-proven), for the token domain. */
  def extendTokenBloomIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, index: DataFrame, textCol: String,
      mBits: Int = 65536, kHashes: Int = 3): DataFrame =
    extendBitSets(spark, dir, index)(
      bitSets(_, distinctTokens(textCol), mBits, kHashes))

  /** Token search through a [[tokenBloomIndex]]: scan only the files
    * whose bit set admits the term, then apply the EXACT token-
    * membership predicate — the result equals the full-scan
    * `array_contains(tokens(text), term)` (lossless: blooms have no
    * false negatives). The probe collects file PATHS only, the same
    * planner-scale contract as every manifest consumer. The term is
    * normalized like the index side, so `"Spark "` and `"spark"` probe
    * the same bits. */
  def tokenBloomRead(spark: org.apache.spark.sql.SparkSession, dir: String,
      index: DataFrame, textCol: String, term: String,
      mBits: Int = 65536, kHashes: Int = 3): DataFrame = {
    val probe = lower(trim(lit(term)))
    val keep = index.filter(bloomHit(probe, mBits, kHashes))
      .select("file").collect().map(_.getString(0))
    explicitIndexRead(spark, dir, keep.toIndexedSeq)
      .filter(array_contains(
        graft.functions.TextFunctions.tokens(col(textCol)), probe))
  }

  /** [[tokenBloomRead]] over a DV-mutated table — full-text search that
    * honors row-level takedowns: the bloom prunes files, the exact token
    * predicate filters the admitted scans, and the DV broadcast
    * anti-join removes deleted rows. The GDPR-correct search
    * path: a removed document stops matching the moment its DV row
    * lands, no index rebuild — the bloom may admit its file (bits are
    * never unset; same false-positive economics as any bloom hit), but
    * its rows can never surface. */
  def tokenBloomReadWithDeletes(spark: org.apache.spark.sql.SparkSession,
      dir: String, index: DataFrame, textCol: String, term: String,
      dv: DataFrame, mBits: Int = 65536, kHashes: Int = 3): DataFrame =
    applyDv(tokenBloomRead(spark, dir, index, textCol, term, mBits, kHashes),
      dv)

  /** DV COMPACTION — the rewrite half of the deletion-vector contract
    * [[readWithDeletes]] documents: a file whose deleted fraction
    * reaches `rewriteRatio` re-encodes WITHOUT its deleted rows (its
    * DV rows retire); every other file is stream-copied byte-for-byte
    * into `outDir` (same name — row positions stay valid) and keeps
    * its DV rows, RETARGETED to the copied path. Production lakehouses
    * do exactly this: DVs absorb sparse deletes cheaply, and per-file
    * growth past a threshold triggers that file's rewrite — never a
    * table rewrite. Cost: O(hot files + DV), the [[compactSmall]]
    * economics, and no table scan: `inDir` opens once ([[openDir]]: one
    * listing, one footer), per-file delete counts come from one
    * aggregate over the DV, and row counts are read from the footers of
    * the files the DV touches (one distributed count over just those
    * files once they pass Spark's parallel-discovery threshold). A file
    * with no DV row is cold without being read — including a zero-row
    * file, which is copied. Hot files are rewritten under the schema of
    * the first of them, as `spark.read.parquet(hot)` would infer it.
    *
    * @return residual DV over `outDir` — `readWithDeletes(outDir,
    *         residual)` equals the fully-deleted table (spec + gate)
    */
  def compactDeletes(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, dv: DataFrame, rewriteRatio: Double): DataFrame = {
    require(rewriteRatio > 0 && rewriteRatio <= 1,
      s"rewriteRatio must be in (0, 1], got $rewriteRatio")
    // the rewrite appends into outDir and the name-based residual-DV
    // rebind scans it — a previously-used outDir would double-count
    // rows and rebind DVs against stale part-files. Fail loudly instead.
    requireEmptyOutDir(spark, outDir, "compactDeletes")
    val in = refusePartitioned(spark, inDir, "compactDeletes")
    val dvFrozen = dv.ckpt // counted, split and rebound below
    // the panel: each DV file, in the DV's own spelling, matched to
    // inDir's listing by URI path (the DV spells `_metadata`'s `file:/`,
    // the listing `file:///`); DV rows naming a file outside inDir drop
    // out here. Sorted by path: the first hot file is the one
    // `spark.read.parquet(hot)` would infer the schema from.
    case class Touched(key: String, file: String, status: FileStatus,
        deletes: Long)
    val listed = indexedFiles(in).map(f => f.getPath.toUri.getRawPath -> f).toMap
    val touched = dvFrozen.groupBy(uriPathCol(col("file")))
      .agg(first(col("file")), count(lit(1))).collect()
      .flatMap(r => listed.get(r.getString(0))
        .map(Touched(r.getString(0), r.getString(1), _, r.getLong(2))))
      .sortBy(_.file).toIndexedSeq
    def touchedScan(ts: Seq[Touched], schema: StructType): DataFrame =
      parquetRelation(spark, new graft.io.ManifestFileIndex(spark,
        ts.map(t => t.file -> t.status.getLen)), schema)
    // row counts from the touched files' footers, read on the driver up
    // to Spark's parallel-discovery threshold; past it one distributed
    // count over just those files, as Spark's own listing switches to a
    // job there
    val conf = hadoopConf(spark)
    val small = touched.length <= spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.parallelPartitionDiscoveryThreshold
    val footers = if (!small) Map.empty[String, ParquetMetadata]
      else touched.map(t => t.key ->
        footer(conf, t.status, ParquetMetadataConverter.NO_FILTER)).toMap
    val nRows: Map[String, Long] =
      if (small) footers.map { case (k, m) =>
        k -> m.getBlocks.asScala.map(_.getRowCount).sum }
      else touchedScan(touched, in.schema)
        .groupBy(col("_metadata.file_path").as("file")).count()
        .select(uriPathCol(col("file")), col("count")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hot = touched.filter(t =>
      t.deletes.toDouble / nRows.getOrElse(t.key, 0L) >= rewriteRatio)
    val hotKeys = hot.map(_.key).toSet
    val cold = listed.filter { case (k, _) => !hotKeys.contains(k) }.values
    val outPath = new Path(outDir)
    val outFs = graft.io.PathResolver.fsFor(outDir, conf)
    outFs.mkdirs(outPath)
    cold.foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(f.getPath.getFileSystem(conf),
        f.getPath, outFs, new Path(outPath, f.getPath.getName),
        false /* keep source */, true /* overwrite */, conf)
    }
    if (hot.nonEmpty) {
      // planned under the DV's spellings (a DV spells each file as the
      // `_metadata.file_path` of the scan that built it), so the index
      // renders them back exactly; the schema is the first hot file's
      // own, as files may differ in physical schema after an evolution
      val lead = hot.head.status
      val schema = footers.get(hot.head.key)
        .fold(footerSchema(spark, lead))(schemaOf(spark, lead.getPath, _))
      applyDv(touchedScan(hot, schema),
        dvFrozen.filter(col("file").isInCollection(hot.map(_.file))))
        .write.mode("append").parquet(outDir)
    }
    // residual DV: the touched cold files' rows, re-addressed at their
    // copied paths AS THE OUT-DIR SCAN RENDERS THEM — `_metadata.file_path`
    // spells paths as URIs while FileSystem paths may drop the scheme,
    // so the rebinding joins on the (unique) file NAME against the out
    // scan's own metadata rather than trusting either rendering
    val touchedCold = touched.map(_.key).toSet -- hotKeys
    if (touchedCold.isEmpty) return dvFrozen.filter(lit(false))
      .select(col("file"), col("pos"))
    val outFiles = spark.read.schema(in.schema).parquet(outDir)
      .select(col("_metadata.file_path").as("graft_new_file")).distinct()
      .withColumn("graft_name", substring_index(col("graft_new_file"), "/", -1))
    dvFrozen
      .filter(uriPathCol(col("file")).isInCollection(touchedCold))
      .withColumn("graft_name", substring_index(col("file"), "/", -1))
      .join(broadcast(outFiles), Seq("graft_name"))
      .select(col("graft_new_file").as("file"), col("pos"))
  }

  /** ORPHAN-FILE VACUUM — the GC half of the manifest lifecycle
    * (Iceberg's remove_orphan_files): a failed task, an aborted job, or
    * an expired snapshot leaves data files in the directory that no
    * retained manifest references; they cost listing time and storage
    * forever unless something deletes them. Every file appearing in at
    * least one retained manifest survives; any other data file is
    * removed. Path comparison is scheme-insensitive (the same
    * URI-vs-filesystem rendering trap [[compactDeletes]] documents).
    * Driver cost is O(#files) — the planner-scale listing every
    * manifest consumer already pays. Returns (deleted, kept) data-file
    * counts. Safety is the manifest contract itself: [[snapshotRead]]
    * of any RETAINED manifest is unaffected by construction. */
  /** The scheme-normalized set of files any retained manifest
    * references — shared by [[vacuumOrphans]] and [[vacuumCommits]] so
    * the empty-retained guard and path normalization cannot drift
    * between the two vacuums. */
  private def liveFileSet(retained: Seq[DataFrame], unit: String): Set[String] = {
    require(retained.nonEmpty,
      s"refusing to vacuum with no retained manifests — that would delete every $unit")
    retained.flatMap(_.select("file").collect().map(r =>
      uriPath(r.getString(0)))).toSet
  }

  def vacuumOrphans(spark: org.apache.spark.sql.SparkSession, dir: String,
      retained: Seq[DataFrame]): (Int, Int) = {
    val live = liveFileSet(retained, "file")
    val fs = graft.io.PathResolver.fsFor(dir,
      spark.sparkContext.hadoopConfiguration)
    // the shared listing descends `col=value` partition dirs, so
    // orphans inside a hive-partitioned table are reclaimed too (a
    // top-level-only listing would silently GC nothing there)
    val (keep, orphan) = dataFilePaths(fs, dir)
      .partition(p => live.contains(uriPath(p.toString)))
    orphan.foreach(p => fs.delete(p, false))
    (orphan.length, keep.length)
  }

  /** Branch-substrate GC — [[vacuumOrphans]] at COMMIT granularity:
    * delete every `commit-*` directory none of whose files appear in a
    * retained manifest. This is the cleanup half of write-audit-publish
    * abandonment (the s34 pattern): a failed audit simply never merges
    * the staging manifest, leaving whole commit directories unreferenced
    * — this reclaims them. The commit is the atomic unit: a
    * [[commitAppend]] manifest references every file the commit wrote,
    * so a commit is either fully live or fully orphaned; any referenced
    * file conservatively keeps its whole directory. Driver cost is the
    * O(#files) planner-scale listing every manifest consumer pays.
    * Safety is the manifest contract: [[snapshotRead]] of any RETAINED
    * manifest is unaffected by construction. Returns (deleted, kept)
    * commit-directory counts.
    *
    * `olderThanMs` is the IN-FLIGHT grace window (Iceberg
    * remove_orphan_files' `older_than`, public docs): a commit dir
    * modified within the window is KEPT even when no retained manifest
    * references it, because "unreferenced" is exactly what a concurrent
    * writer's mid-write or staged-awaiting-audit commit (the s34 WAP
    * staging window) looks like — the GC caller does not hold that
    * writer's manifest. Only set it to 0 when no writer can possibly be
    * staging into `dir` concurrently (e.g. single-process tests). */
  def vacuumCommits(spark: org.apache.spark.sql.SparkSession, dir: String,
      retained: Seq[DataFrame],
      olderThanMs: Long = 24L * 3600 * 1000): (Int, Int) = {
    require(olderThanMs >= 0, s"olderThanMs must be >= 0, got $olderThanMs")
    val live = liveFileSet(retained, "commit")
    val cutoff = System.currentTimeMillis() - olderThanMs
    val fs = graft.io.PathResolver.fsFor(dir,
      spark.sparkContext.hadoopConfiguration)
    val (keep, orphan) = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("commit-"))
      .partition { d =>
        // the dir mtime alone can predate a file still being written
        // into it — take the newest of the dir and its entries. Grace 0
        // disables the check outright (mtime == cutoff within clock
        // resolution must not resurrect a deliberately-abandoned commit)
        val entries = fs.listStatus(d.getPath)
        val inGrace = olderThanMs > 0 && {
          val mtime =
            (d.getModificationTime +: entries.map(_.getModificationTime)).max
          mtime >= cutoff
        }
        inGrace ||
          entries.exists(f => live.contains(uriPath(f.getPath.toString)))
      }
    orphan.foreach(d => fs.delete(d.getPath, true))
    (orphan.length, keep.length)
  }

  /** DELETION VECTORS — row-level deletes WITHOUT rewriting files (the
    * Delta/Iceberg merge-on-read delete path): one scan evaluates the
    * delete predicate and records each hit as its immutable physical
    * address `(file, pos)` from the parquet reader's
    * `_metadata.file_path` / `_metadata.row_index` columns. Data files
    * are untouched (spec proves byte-identity), so a takedown over a
    * 100 TB table costs one predicate scan + an O(deleted-rows) side
    * table instead of rewriting every file containing a hit.
    *
    * Positions are stable because parquet files never mutate in place
    * and `row_index` is the reader's physical ordinal within the file —
    * the same contract Delta deletion vectors rely on. The DV table is
    * itself just rows, so it persists/extends through the ordinary
    * sink (and unions of DV tables compose: deletes are idempotent
    * under the distinct-ness of (file, pos)). */
  def deletionVectors(spark: org.apache.spark.sql.SparkSession, dir: String,
      predicate: Column): DataFrame =
    spark.read.parquet(dir)
      .filter(predicate)
      .select(col("_metadata.file_path").as("file"),
        col("_metadata.row_index").as("pos"))

  /** [[deletionVectors]] for a KEY LIST instead of a predicate — the
    * CDC/takedown-feed shape: the delete request arrives as keys, the
    * addresses come from one semi-joined scan (keys broadcast —
    * delta-scale by contract). DV rows are a grow-only set under
    * union: duplicates are harmless to the anti-join subtraction, so
    * concurrent/out-of-order delete batches fold with plain unionAll —
    * no dedup pass, no ordering requirement (the property gate s27
    * leans on). */
  def deletionVectorsForKeys(spark: org.apache.spark.sql.SparkSession,
      dir: String, keys: DataFrame, keyCol: String): DataFrame =
    addressesOf(spark.read.parquet(dir), keys, keyCol)

  /** [[deletionVectorsForKeys]] with the address-resolution scan PRUNED
    * through the table's stats manifest: only files whose key span
    * intersects the delete batch are read to resolve (file, pos)
    * addresses. Unpruned, every takedown wave pays a full-table scan
    * just to find its keys' addresses (a semi-join cannot push file
    * skipping); against a clustered layout this makes the erase
    * pipeline's per-wave cost O(touched files), not O(table) — the
    * difference between a GDPR feed that gets cheaper as the layout
    * improves and one that re-reads 100 TB per wave. Over a
    * [[Manifest.TwoLevel]] the rollup range-joins the key batch first,
    * so a 10⁷-file table absorbs a scattered key wave without any
    * consumer collecting its full listing. The scan plans with ZERO
    * filesystem calls when the admitted rows carry exact `bytes`
    * ([[graft.io.ManifestFileIndex]]); the explicit-path read (which
    * stat-lists every touched file — 0.6 s for q122's 300-file wave) is
    * only the legacy/byte-less fallback, and `_metadata` renders paths
    * identically under both plans, so recorded addresses are
    * byte-identical. Result ≡ the unpruned variant exactly
    * (spec-proven): min/max pruning has no false negatives, and the
    * same broadcast semi-join lands last. */
  def deletionVectorsForKeysPruned(spark: org.apache.spark.sql.SparkSession,
      dir: String, manifest: Manifest, keys: DataFrame,
      keyCol: String): DataFrame =
    addressesOf(scan(spark, dir, admit(spark, manifest, holdsKey(keys, keyCol))),
      keys, keyCol)

  /** The (file, pos) addresses of `keys` within a fresh parquet scan. */
  private def addressesOf(scan: DataFrame, keys: DataFrame,
      keyCol: String): DataFrame =
    scan
      // _metadata resolves only against the scan itself — project the
      // address BEFORE the join or analysis fails
      .select(col(keyCol), col("_metadata.file_path").as("file"),
        col("_metadata.row_index").as("pos"))
      .join(broadcast(keys.select(col(keyCol))), Seq(keyCol), "left_semi")
      .select("file", "pos")

  /** Merge-on-read scan applying [[deletionVectors]]: the base table is
    * scanned in place and deleted addresses are subtracted by a
    * BROADCAST left-anti join on (file, pos) — the base side never
    * shuffles (plan-asserted by DeletionVectorPlanSpec), the DV side
    * ships two longs per deleted row. That broadcast is the documented
    * scale contract: DVs are for SPARSE deletes; when a file's DV grows
    * past a rewrite threshold, compact it (re-encode the file minus its
    * deleted rows — [[compactSmall]]'s posture) and drop its DV rows,
    * exactly as production lakehouses do. */
  def readWithDeletes(spark: org.apache.spark.sql.SparkSession, dir: String,
      dv: DataFrame): DataFrame =
    applyDv(spark.read.parquet(dir), dv)

  /** The DV subtraction itself — `base` must be a fresh parquet scan
    * (the `_metadata` address columns resolve only there).
    * `private[ops]` so [[SchemaEvolution.evolvedRead]] can subtract DVs
    * from its merge-schema scan with the same plan shape. */
  private[ops] def applyDv(base: DataFrame, dv: DataFrame): DataFrame =
    base
      .withColumn("graft_dv_file", col("_metadata.file_path"))
      .withColumn("graft_dv_pos", col("_metadata.row_index"))
      .join(
        broadcast(dv.select(col("file").as("graft_dv_file"),
          col("pos").as("graft_dv_pos"))),
        Seq("graft_dv_file", "graft_dv_pos"), "left_anti")
      .drop("graft_dv_file", "graft_dv_pos")

  /** VERSIONED merge-on-read: a table version IS (manifest, DV set) —
    * the manifest pins which files exist at the version, the DV set
    * pins which of their rows are deleted at the version. Reading AS
    * OF v = scan exactly the manifest's files, subtract exactly v's
    * DVs. Because files are immutable and DV sets are grow-only
    * ([[deletionVectorsForKeys]]' union contract), retaining
    * (manifest, DV) pairs per version gives row-level-mutation time
    * travel with zero copies — the full Delta/Iceberg read model from
    * the same two side tables this family already maintains. */
  def snapshotReadWithDeletes(spark: org.apache.spark.sql.SparkSession,
      dir: String, manifest: DataFrame, dv: DataFrame): DataFrame =
    applyDv(snapshotRead(spark, dir, manifest), dv)

  /** CHANGE-DATA-FEED extraction between two table versions — each a
    * (manifest, DV set) pair per [[snapshotReadWithDeletes]]'s model.
    * Returns the base columns plus `_change_type` ('insert' rows are
    * live at the new version but not the old; 'delete' rows were live
    * at the old version and are not at the new) — the Delta CDF /
    * Iceberg incremental-read surface, derived entirely from metadata
    * the table already maintains, with NO stored change log.
    *
    * The 100 TB contract is what it never does: diff two table scans.
    * Changes are located from the planner-scale file-set diff plus the
    * delta-scale DV delta, so the data files actually read are exactly
    * (a) files only the new manifest tracks (their live rows are the
    * inserts), (b) files only the old manifest tracks (their
    * old-DV-surviving rows are deletes), and (c) shared files holding
    * new DV addresses (those rows are row-level deletes). An unchanged
    * petabyte contributes zero I/O.
    *
    * Contract: DV sets must be grow-only on SHARED files (the
    * [[deletionVectorsForKeys]] union discipline) — an address present
    * at the old version but missing at the new one would be an
    * un-delete the file diff cannot see, so that case REFUSES loudly
    * (one delta-scale audit action; opt out with
    * `spark.graft.validate.ids=false` once a pipeline's DV discipline
    * is established). Across a [[compactDeletes]] boundary the rewrite
    * churn reports as delete+insert of equal rows (files changed
    * identity), exactly as production CDF does for rewrites not
    * flagged dataChange=false; rewritten files leave the shared set,
    * so the grow-only audit composes with compaction. */
  def snapshotDiff(spark: org.apache.spark.sql.SparkSession, dir: String,
      oldManifest: DataFrame, newManifest: DataFrame,
      oldDv: DataFrame, newDv: DataFrame): DataFrame = {
    // manifests are planner-scale: the file-set diff is a driver set
    // op, the same O(#files) contract every snapshotRead consumer pays
    def panel(m: DataFrame): Map[String, String] =
      m.select(uriPathCol(col("file")).as("k"), col("file"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val oldP = panel(oldManifest)
    val newP = panel(newManifest)
    val added = (newP.keySet -- oldP.keySet).toSeq.sorted.map(newP)
    val removed = (oldP.keySet -- newP.keySet).toSeq.sorted.map(oldP)
    val shared = oldP.keySet.intersect(newP.keySet)

    // partitioned manifests: the base schema includes the partition
    // columns, so the changed-file reads need basePath to resolve them
    // (explicit-leaf reads would fail the outCols select); basePath
    // adds no files — the only-changed-files scan contract holds
    val partitioned = isPartitioned(newManifest) || isPartitioned(oldManifest)
    def readFiles(fs: Seq[String]): DataFrame =
      explicitFilesRead(spark, dir, partitioned, fs)
    // schema from ONE manifest-named footer, not a directory listing:
    // a root-dir read re-lists the whole table per diff call (the same
    // per-probe listing cost the manifest family exists to remove);
    // files share one schema by table contract, and the partitioned
    // read keeps basePath so partition columns resolve identically.
    // Empty manifests (fresh table) fall back to the root read.
    val baseSchema = (newP.values.headOption orElse oldP.values.headOption)
      .map(f => readFiles(Seq(f)).schema)
      .getOrElse(spark.read.parquet(dir).schema)
    val outCols = (baseSchema.fieldNames.toSeq :+ "_change_type").map(col)
    // file-free empty frame: a `limit(0)` over the directory would drag
    // every table file into the plan's input set and break the
    // only-changed-files scan contract the spec pins via inputFiles
    def emptySlice(tag: String): DataFrame =
      spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), baseSchema)
        .withColumn("_change_type", lit(tag)).select(outCols: _*)

    // DV rows keyed by normalized path; restrict the delta to shared
    // files (added files' DV rows were never visible; removed files'
    // rows are already counted whole by the file-drop branch)
    val sharedKeys = spark.createDataset(shared.toSeq)(
      org.apache.spark.sql.Encoders.STRING).toDF("fk")
    def keyedDv(dv: DataFrame): DataFrame =
      dv.select(uriPathCol(col("file")).as("fk"), col("pos"), col("file"))
    val dvDelta = keyedDv(newDv)
      .join(keyedDv(oldDv).select("fk", "pos"), Seq("fk", "pos"), "left_anti")
      .join(broadcast(sharedKeys), Seq("fk"), "left_semi")
    val dvDeltaPinned = Ckpt.pinned(dvDelta) // delta-scale by contract

    if (spark.conf.get("spark.graft.validate.ids", "true").toBoolean) {
      val shrunk = keyedDv(oldDv).select("fk", "pos")
        .join(keyedDv(newDv).select("fk", "pos"), Seq("fk", "pos"), "left_anti")
        .join(broadcast(sharedKeys), Seq("fk"), "left_semi").count()
      require(shrunk == 0L,
        s"snapshotDiff: PRECONDITION violated — $shrunk DV address(es) " +
          "present at the old version are missing at the new one on a " +
          "shared file (an un-delete the file diff cannot see); DV sets " +
          "must be grow-only on shared files")
    }

    val inserts =
      if (added.isEmpty) emptySlice("insert")
      else applyDv(readFiles(added), newDv)
        .withColumn("_change_type", lit("insert")).select(outCols: _*)
    val dropDeletes =
      if (removed.isEmpty) emptySlice("delete")
      else applyDv(readFiles(removed), oldDv)
        .withColumn("_change_type", lit("delete")).select(outCols: _*)
    // only files the DV delta actually names are scanned (delta-scale
    // driver list — a subset of the delta rows themselves)
    val touched = dvDeltaPinned.select("file").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val dvDeletes =
      if (touched.isEmpty) emptySlice("delete")
      else readFiles(touched)
        .withColumn("graft_dv_fk", uriPathCol(col("_metadata.file_path")))
        .withColumn("graft_dv_pos", col("_metadata.row_index"))
        .join(broadcast(dvDeltaPinned.select(col("fk").as("graft_dv_fk"),
          col("pos").as("graft_dv_pos"))),
          Seq("graft_dv_fk", "graft_dv_pos"), "left_semi")
        .drop("graft_dv_fk", "graft_dv_pos")
        .withColumn("_change_type", lit("delete")).select(outCols: _*)

    inserts.unionAll(dropDeletes).unionAll(dvDeletes)
  }
}
