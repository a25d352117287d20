package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._

/** AUTOMATIC file-level data skipping — the third leg of the
  * query-rewrite-onto-maintained-metadata family ([[MvRewrite]] routes
  * aggregates to IVM views, [[MetaAggRewrite]] answers global panels
  * from the manifest; this rule prunes FILTERS). A `Filter` whose child
  * is `sameResult`-equivalent to a registered catalog-version snapshot
  * scan is rewritten so the scan reads ONLY the files the stats
  * manifest cannot rule out — the same admission logic as
  * [[graft.ops.Layout.prunedRead]], but applied inside the optimizer,
  * so EVERY consumer (pure SQL through `graft_catalog_read`, the Scala
  * DSL, a filter an enclosing join pushed down) gets skipping without
  * calling a pruning API. This is what lake formats do natively
  * (Iceberg/Delta scan planning evaluates predicates against file
  * stats, public docs); Spark's own parquet min/max skipping happens a
  * level lower (row groups, after the file is opened) — file-level
  * admission removes the open/footer cost too, which at 100 TB and
  * 10⁶ files is the difference between a planner-scale probe and a
  * cluster-wide metadata storm.
  *
  * Admission is LOSSLESS by construction: the original `Filter` stays
  * on top of the pruned scan (residual semantics identical; parquet
  * row-group pushdown still applies within admitted files), and a file
  * is dropped only when its per-file `(min_c, max_c, nulls_c, n_rows)`
  * row PROVES no row can satisfy a conjunct:
  *
  *   - `c = v` / `c <=> v`: drop unless `min_c <= v <= max_c`;
  *   - `c < v` (`<=`, `>`, `>=`): compare against the relevant bound;
  *   - `c IN (vs)`: drop unless some `v` lands inside `[min_c, max_c]`
  *     (null list elements can never satisfy the IN — ignored);
  *   - `c IS NULL`: drop when `nulls_c = 0`; `c IS NOT NULL`: drop when
  *     `nulls_c = n_rows` (the sparse-column case min/max can't help);
  *   - `NOT (c = v)`: drop only the single-value file `min_c = max_c = v`;
  *   - `OR`: a file survives if EITHER branch admits it (both branches
  *     must be translatable, else the disjunct admits everything);
  *   - conjuncts the translator does not understand admit every file —
  *     they only lose pruning, never rows. An all-null or zero-row file
  *     (null min/max) is provably empty for every value comparison; a
  *     legacy manifest column with UNKNOWN nulls admits (same
  *     losslessness posture as `prunedReadNotNull`).
  *
  * Matching anchors on the scan's `HadoopFsRelation` (same
  * format/options/schema, `InMemoryFileIndex` root-path SET equality),
  * so a query over a DIFFERENT version — or the raw directory
  * listing — never matches, and a version carrying a deletion vector
  * needs no special handling at all (the DV anti-join sits ABOVE the
  * base scan; the optimizer pushes data filters below it, the base
  * scan prunes, and the DV subtracts from the pruned scan exactly as
  * it would from the full one). The rewrite swaps ONLY the relation's
  * file index — output attributes, exprIds, and whatever `_metadata`
  * widening/pruning the planner applied stay byte-identical, so the
  * surrounding plan never notices.
  *
  * Registration collects the manifest rows onto the driver once — the
  * flat-manifest contract (ceiling-checked at manifest BUILD time,
  * `spark.graft.manifest.maxFiles`): per-probe admission is then pure
  * driver-side arithmetic over O(#files) cached rows with zero Spark
  * jobs inside the optimizer (measured 0.03 s at 4000 files), and the
  * pruned RELATION is cached per (registration, canonicalized
  * predicate) so repeat probes and one query's several optimizer
  * passes share one file index. [[scan]] serves a DataFrame over the
  * registered relation itself — the steady-state probe path with no
  * per-query scan construction at all. Past the flat ceiling, the
  * explicit verbs over a two-level manifest
  * ([[graft.ops.Layout.prunedRead]] with a
  * [[graft.ops.Layout.Manifest.TwoLevel]]) remain the read path.
  *
  * Registered by `graft.GraftExtensions` for new sessions or
  * [[install]] on a live one; `spark.graft.scanPrune.enabled=false` is
  * the kill switch.
  */
object ScanPruneRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val EnabledConf = "spark.graft.scanPrune.enabled"

  /** Per-file, per-column stats in CATALYST value space (UTF8String /
    * day-int / micros-long ...), so predicate literals compare without
    * per-probe conversion. `min`/`max` null = no non-null values in the
    * file (all-null or zero rows); `nulls` None = unknown (legacy
    * manifest column) — admit. */
  private case class ColStats(min: Any, max: Any, nulls: Option[Long])
  /** `bytes` (exact file length) and `part` (the file's hive partition
    * tuple, relation partition-schema field order) ride along when the
    * manifest recorded them: together they let the pruned swap plan a
    * [[graft.io.ManifestFileIndex]] — zero filesystem calls — and make
    * PARTITIONED registrations prunable at all (an `InMemoryFileIndex`
    * swap would lose the partition values). */
  private case class FileStats(path: String, nRows: Long,
      cols: Map[String, ColStats], bytes: Option[Long] = None,
      part: Option[org.apache.spark.sql.catalyst.InternalRow] = None)

  /** Per-file Bloom bit sets for one column ([[graft.ops.Layout.bloomIndex]]
    * layout), keyed by scheme-normalized path. Serves EQUALITY / IN
    * conjuncts on columns min/max cannot help with (high-cardinality
    * keys scattered across every file). A file missing from the index
    * admits — losslessness over completeness. */
  private case class Bloom(colType: DataType, mBits: Int, kHashes: Int,
      bits: Map[String, scala.collection.immutable.BitSet])
  /** Matching anchors on the scan's `HadoopFsRelation` rather than a
    * stored `LogicalPlan` shape: `InMemoryFileIndex` equality compares
    * the root-path SET, so the match is "reads exactly this version's
    * files with identical format/options/schema" — and it survives the
    * output-attribute surgery the analyzer/optimizer perform around the
    * node (`_metadata` widening for the DV merge-on-read path, nested
    * pruning of the metadata struct), which plan-level `sameResult`
    * does not. */
  private case class Reg(name: String,
      relation: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
      statsCols: Map[String, DataType], files: Seq[FileStats],
      blooms: Map[String, Bloom] = Map.empty)

  private val registry = new ConcurrentHashMap[String, Reg]()

  /** (scanName, canonicalized Filter condition) → the pruned
    * HadoopFsRelation for that predicate. Registration pins one
    * immutable (catalog version, manifest) pair per name, so the
    * admitted file set for a given predicate never changes while the
    * registration lives — but WITHOUT this cache every optimization
    * pass of every repeat of the query rebuilds an
    * `InMemoryFileIndex` over the admitted paths (a driver
    * listing/stat pass), which is the per-query floor the round-17
    * soak measured at high file counts. Bounded LRU; purged with the
    * registration. */
  private case class AdmitKey(name: String, cond: Expression)
  private val MaxAdmitEntries = 64
  private val admitCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[AdmitKey,
        org.apache.spark.sql.execution.datasources.HadoopFsRelation](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[AdmitKey,
            org.apache.spark.sql.execution.datasources.HadoopFsRelation])
          : Boolean = size() > MaxAdmitEntries
    })

  /** A DataFrame over the REGISTERED relation itself — the cheap probe
    * path: `registerFromCatalog` already paid the file-index build for
    * this version's explicit file list, so per-query consumers should
    * reuse it instead of re-deriving a fresh snapshot scan (a second
    * O(#files) driver listing per query, the round-17 probe floor).
    * Same relation object ⇒ the rewrite rules match it exactly like
    * the original registration base. */
  def scan(spark: SparkSession, name: String): DataFrame = {
    val reg = Option(registry.get(name)).getOrElse(
      throw new IllegalArgumentException(
        s"no registered scan named '$name'"))
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(reg.relation)
  }

  /** Register `base` (the explicit-file snapshot scan `manifest`
    * describes — [[registerFromCatalog]] is the safe path) for
    * filter-time pruning. Stats columns are discovered from the
    * manifest's own `min_*` schema; the manifest must describe EXACTLY
    * the files `base` reads. */
  def register(spark: SparkSession, name: String, base: DataFrame,
      manifest: DataFrame): Unit = {
    val statsCols: Map[String, DataType] = manifest.schema.fields.iterator
      .filter(_.name.startsWith("min_"))
      .map(f => f.name.stripPrefix("min_") -> f.dataType)
      .filter { case (c, t) =>
        base.schema.fields.exists(bf => bf.name == c && bf.dataType == t)
      }.toMap
    require(statsCols.nonEmpty,
      s"manifest for '$name' carries no min_*/max_* stats column " +
        "matching the base schema — nothing could ever prune")
    val ordered = statsCols.keys.toSeq
    import org.apache.spark.sql.functions.col
    val relForParts = base.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
    }.collect {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fs.partitionSchema
    }.getOrElse(StructType(Nil))
    // partition tuples ride along only when the manifest recorded every
    // partition column with the relation's exact type — otherwise the
    // registration still works but partitioned pruning stays off
    val partUsable = relForParts.nonEmpty && relForParts.forall(f =>
      manifest.schema.fields.exists(mf =>
        mf.name == s"part_${f.name}" && mf.dataType == f.dataType))
    val bytesCol =
      if (manifest.columns.contains("bytes")) col("bytes")
      else org.apache.spark.sql.functions.lit(null).cast("long")
    val wanted = Seq(col("file"), col("n_rows")) ++ ordered.flatMap { c =>
      val nullsC =
        if (manifest.columns.contains(s"nulls_$c")) col(s"nulls_$c")
        else org.apache.spark.sql.functions.lit(null).cast("long")
      Seq(col(s"min_$c"), col(s"max_$c"), nullsC)
    } ++ Seq(bytesCol) ++
      (if (partUsable) relForParts.map(f => col(s"part_${f.name}")).toSeq
       else Seq.empty)
    val toCat = ordered.map(c =>
      CatalystTypeConverters.createToCatalystConverter(statsCols(c)))
    val partToCat = relForParts.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType)).toSeq
    val bytesIdx = 2 + 3 * ordered.size
    val files = manifest.select(wanted: _*).collect().map { r =>
      val cols = ordered.zipWithIndex.map { case (c, i) =>
        val base = 2 + 3 * i
        c -> ColStats(
          if (r.isNullAt(base)) null else toCat(i)(r.get(base)),
          if (r.isNullAt(base + 1)) null else toCat(i)(r.get(base + 1)),
          if (r.isNullAt(base + 2)) None else Some(r.getLong(base + 2)))
      }.toMap
      val bytes = if (r.isNullAt(bytesIdx)) None else Some(r.getLong(bytesIdx))
      val part =
        if (!partUsable ||
            relForParts.indices.exists(j => r.isNullAt(bytesIdx + 1 + j)))
          None
        else Some(org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          relForParts.indices.map(j => partToCat(j)(r.get(bytesIdx + 1 + j)))))
      FileStats(r.getString(0), r.getLong(1), cols, bytes, part)
    }.toSeq
    require(files.nonEmpty,
      s"manifest for '$name' describes zero files — an empty version " +
        "has nothing to prune (and its limit-0 read is not a file scan)")
    val rel = base.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
    } match {
      case Some(fs:
          org.apache.spark.sql.execution.datasources.HadoopFsRelation) => fs
      case other => throw new IllegalArgumentException(
        s"'$name' must be a file-source scan (explicit-file snapshot " +
          s"read); got: $other")
    }
    purgeAdmitCache(name) // a re-registration (same name, newer catalog
    // version) must never serve the OLD version's cached pruned
    // relations — admit keys carry no file info, only the predicate
    registry.put(name, Reg(name, rel, statsCols, files))
    install(spark)
  }

  /** Drop every cached pruned relation for `name`. Called on
    * (re-)registration and unregistration: the cache key is (name,
    * predicate) with no version/file identity, so any change to the
    * registered file set would otherwise keep serving the previous
    * registration's files — a silent stale-snapshot read, or missing-
    * file failures after vacuum. */
  private def purgeAdmitCache(name: String): Unit =
    admitCache.synchronized {
      admitCache.keySet.asScala.filter(_.name == name).toSeq
        .foreach(admitCache.remove)
    }

  /** [[register]] a catalog version's base scan — one resolve pins the
    * (manifest, files) pair the catalog committed together. Versions
    * with a DV register fine: pruning the base side of the merge-on-read
    * anti-join is lossless (see class doc). Returns the version. */
  def registerFromCatalog(spark: SparkSession, name: String,
      dataDir: String, catalogPath: String,
      version: Option[Int] = None): Int = {
    implicit val s: SparkSession = spark
    val v = version.getOrElse(graft.ops.Versions.current(catalogPath))
    // opened from one footer: no schema-inference job
    val manifest = graft.ops.Layout.openDir(spark,
      graft.ops.Catalog.ref(spark, catalogPath, v, "manifest"))
    val base = graft.ops.Layout.snapshotRead(spark, dataDir, manifest)
    register(spark, name, base, manifest)
    v
  }

  /** Attach a [[graft.ops.Layout.bloomIndex]] for `colName` to an
    * already-registered scan: equality / IN conjuncts on that column
    * then drop every file whose bit set misses any of the value's k
    * positions — the skipping min/max cannot provide when a
    * high-cardinality key is scattered across every file (i.e. the
    * table is clustered by something else). Composes with the range
    * admission: a conjunct admits only files BOTH tests keep. The
    * probe bits are computed by evaluating the index's own bit
    * expression driver-side, so index and probe can never disagree.
    * Collects O(#files · set-bits) onto the driver — the same
    * flat-manifest registration contract, with the bloom's `mBits`
    * bounding the per-file set. */
  def registerBlooms(spark: SparkSession, name: String, colName: String,
      bloomIndex: DataFrame, mBits: Int = 4096,
      kHashes: Int = 3): Unit = {
    val reg = Option(registry.get(name)).getOrElse(
      throw new IllegalArgumentException(
        s"no registered scan named '$name' — register the version first"))
    val colType = reg.relation.dataSchema.fields
      .find(_.name == colName).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"'$colName' is not a column of registered scan '$name'"))
    val byFile = bloomIndex.select("file", "bits").collect().map { r =>
      normPath(r.getString(0)) ->
        scala.collection.immutable.BitSet(
          r.getSeq[Long](1).map(_.toInt): _*)
    }.toMap
    purgeAdmitCache(name) // cached relations were pruned without this
    // bloom; keeping them would be lossless (superset admission) but
    // permanently forfeits the bloom's skipping for those predicates
    registry.put(name, reg.copy(blooms = reg.blooms +
      (colName -> Bloom(colType, mBits, kHashes, byFile))))
  }

  /** [[registerBlooms]] for a SELF-DESCRIBING index
    * ([[graft.ops.Layout.bloomIndexSized]]): probe sizes come from the
    * index's own sentinel row, so build and probe cannot disagree. */
  def registerBloomsSelf(spark: SparkSession, name: String,
      colName: String, bloomIndex: DataFrame): Unit = {
    val (m, k) = graft.ops.Layout.bloomMeta(bloomIndex).getOrElse(
      throw new IllegalArgumentException(
        "index carries no _graft_bloom_meta row — built with plain " +
          "bloomIndex? use registerBlooms with its explicit sizes"))
    registerBlooms(spark, name, colName,
      bloomIndex.filter(org.apache.spark.sql.functions.col("file") =!=
        graft.ops.Layout.BloomMetaKey), m, k)
  }

  private def normPath(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** The k bit positions of a probe value — the index's OWN expression
    * ([[graft.ops.Layout.bloomBit]]) over a literal, resolved through a
    * one-row plan (analysis only — no job) and folded driver-side. */
  private def probeBits(value: Any, t: DataType, b: Bloom): Seq[Int] = {
    val spark = SparkSession.active
    val cols = (0 until b.kHashes).map { i =>
      graft.ops.Layout.bloomBit(
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          Literal(value, t)), i, b.mBits)
    }
    spark.range(1).select(cols: _*).queryExecution.analyzed match {
      case Project(ps, _) => ps.map {
        case Alias(e, _) => e.eval(null).asInstanceOf[Long].toInt
        case e => e.eval(null).asInstanceOf[Long].toInt
      }
      case other => throw new IllegalStateException(
        s"unexpected probe plan shape: $other")
    }
  }

  def unregister(name: String): Unit = {
    registry.remove(name)
    purgeAdmitCache(name)
    JoinSkipRewrite.unregister(name) // a join-skip reg rides on the scan reg
  }

  def clear(): Unit = {
    registry.clear()
    admitCache.clear()
    JoinSkipRewrite.clear()
  }

  /** The registered relation + the columns any admission path (range
    * stats or bloom) can skip on — [[JoinSkipRewrite]]'s view into this
    * registry. */
  private[plans] def lookupRelation(name: String): Option[
      (org.apache.spark.sql.execution.datasources.HadoopFsRelation,
        Set[String])] =
    Option(registry.get(name)).map(r =>
      (r.relation, r.statsCols.keySet ++ r.blooms.keySet))

  /** Admitted-file counts per registered name for the given predicate-
    * free probe — test/evidence hook, not a query path. */
  private[graft] def fileCount(name: String): Int =
    Option(registry.get(name)).map(_.files.size).getOrElse(-1)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (registry.isEmpty ||
        !conf.getConfString(EnabledConf, "true").toBoolean) plan
    else plan transformUp {
      case f @ Filter(cond, child) =>
        matchScan(child).flatMap { case (reg, leaf) =>
          rewrite(cond, child, leaf, reg)
        }.getOrElse(f)
    }
  }

  /** The Filter's child either IS the registered scan or is an
    * attribute-only Project over it (a shape column pruning can leave). */
  private def matchScan(child: LogicalPlan): Option[
      (Reg, org.apache.spark.sql.execution.datasources.LogicalRelation)] = {
    val leaf = child match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) => c
      case other => other
    }
    leaf match {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        registry.values.asScala.find(_.relation == lr.relation)
          .map(r => (r, lr))
      case _ => None
    }
  }

  private def rewrite(cond: Expression, child: LogicalPlan,
      leaf: org.apache.spark.sql.execution.datasources.LogicalRelation,
      reg: Reg): Option[LogicalPlan] = {
    val partSchema = reg.relation.partitionSchema
    // a partitioned relation can only be swapped when every file's
    // partition tuple (and exact length) was recorded — an
    // InMemoryFileIndex over bare leaf paths would lose the values
    if (partSchema.nonEmpty &&
        !reg.files.forall(f => f.bytes.isDefined && f.part.isDefined))
      return None
    val outIds = leaf.output.map(_.exprId).toSet
    val tests = splitConjunctivePredicates(cond)
      .flatMap(translate(_, outIds, reg))
    if (tests.isEmpty) return None
    val admitted = reg.files.filter(fs => tests.forall(_(fs)))
    if (admitted.size == reg.files.size) return None // no-op: keep plan stable
    val newLeaf: LogicalPlan =
      if (admitted.isEmpty) LocalRelation(leaf.output)
      else {
        // swap ONLY the file index — output attributes (exprIds, any
        // metadata widening/pruning the planner applied) stay untouched,
        // so the surrounding plan never notices. The pruned relation is
        // CACHED per (registration, canonicalized predicate): the
        // registration pins an immutable file set, so repeat probes and
        // the re-optimizations of one query (fixpoint batch, EXPLAIN,
        // execution) reuse one file index instead of rebuilding it.
        // When every admitted file's length is known the swap plans a
        // ManifestFileIndex (zero filesystem calls, partition tuples
        // preserved); only a legacy byte-less registration pays the
        // InMemoryFileIndex listing.
        val key = AdmitKey(reg.name, cond.canonicalized)
        val cached = Option(admitCache.get(key)).getOrElse {
          val spark = SparkSession.active
          val newLoc: org.apache.spark.sql.execution.datasources.FileIndex =
            if (admitted.forall(_.bytes.isDefined))
              new graft.io.ManifestFileIndex(spark,
                admitted.map(f => (f.path, f.bytes.get)),
                partSchema,
                if (partSchema.isEmpty) Nil else admitted.map(_.part.get))
            else
              new org.apache.spark.sql.execution.datasources
                .InMemoryFileIndex(
                spark, admitted.map(f => new org.apache.hadoop.fs.Path(f.path)),
                reg.relation.options, Some(reg.relation.dataSchema))
          val rel = reg.relation.copy(location = newLoc)(spark)
          admitCache.put(key, rel)
          rel
        }
        leaf.copy(relation = cached)
      }
    val rebuilt = child match {
      case p: Project => p.withNewChildren(Seq(newLeaf))
      case _ => newLeaf // child IS the leaf relation
    }
    Some(Filter(cond, rebuilt))
  }

  // ---- conjunct → per-file admission test ----------------------------

  private def translate(e: Expression, outIds: Set[ExprId],
      reg: Reg): Option[FileStats => Boolean] = {

    def colOf(x: Expression): Option[(String, DataType)] = x match {
      case a: AttributeReference if outIds.contains(a.exprId) &&
          reg.statsCols.get(a.name).contains(a.dataType) =>
        Some(a.name -> a.dataType)
      case _ => None
    }

    def bloomOf(x: Expression): Option[(String, Bloom)] = x match {
      case a: AttributeReference if outIds.contains(a.exprId) =>
        reg.blooms.get(a.name).filter(_.colType == a.dataType)
          .map(a.name -> _)
      case _ => None
    }

    /** all k probe bits present in the file's set; absent file admits */
    def bloomHit(b: Bloom, v: Any): FileStats => Boolean = {
      val probe = probeBits(v, b.colType, b)
      fs => b.bits.get(normPath(fs.path))
        .forall(set => probe.forall(set.contains))
    }

    /** IN admission: a file survives if SOME value passes every
      * available test (range ∧ bloom) for it. */
    def inTest(values: Seq[Any], statsCol: Option[(String, DataType)],
        bloomCol: Option[(String, Bloom)]): FileStats => Boolean = {
      val perValue = values.map { v =>
        val r = statsCol.map { case (c, t) =>
          cmp(c, t, v)((mn, mx) => mn <= 0 && mx >= 0)
        }
        val bl = bloomCol.map { case (_, b) => bloomHit(b, v) }
        (fs: FileStats) => r.forall(_(fs)) && bl.forall(_(fs))
      }
      fs => perValue.exists(_(fs))
    }

    /** value comparison against [min, max]; `admit(cmpMin, cmpMax)`
      * receives compare(min, v) and compare(max, v). Files with no
      * non-null value are provably empty for ANY value comparison. */
    def cmp(c: String, t: DataType, v: Any)(
        admit: (Int, Int) => Boolean): FileStats => Boolean = {
      val ord = TypeUtils.getInterpretedOrdering(t)
      fs => fs.cols.get(c) match {
        case Some(st) if st.min != null && st.max != null =>
          admit(ord.compare(st.min, v), ord.compare(st.max, v))
        case Some(_) => false // all-null or zero-row file
        case None => true // column unknown to this manifest — lossless
      }
    }

    def lit(x: Expression, t: DataType): Option[Any] = x match {
      case Literal(v, lt) if v != null && lt == t => Some(v)
      case _ => None
    }

    def eq(a: Expression, b: Expression): Option[FileStats => Boolean] = {
      val range = for { (c, t) <- colOf(a); v <- lit(b, t) }
        yield cmp(c, t, v)((mn, mx) => mn <= 0 && mx >= 0)
      val bloom = for { (_, bl) <- bloomOf(a); v <- lit(b, bl.colType) }
        yield bloomHit(bl, v)
      if (range.isEmpty && bloom.isEmpty) None
      else Some((fs: FileStats) =>
        range.forall(_(fs)) && bloom.forall(_(fs)))
    }

    def isNullTest(a: Expression): Option[FileStats => Boolean] =
      colOf(a).map { case (c, _) =>
        fs => fs.cols.get(c).forall(_.nulls.forall(_ > 0))
      }

    def isNotNullTest(a: Expression): Option[FileStats => Boolean] =
      colOf(a).map { case (c, _) =>
        fs => fs.cols.get(c).forall(_.nulls.forall(_ < fs.nRows))
      }

    e match {
      case EqualTo(a, b) => eq(a, b).orElse(eq(b, a))
      case EqualNullSafe(a, Literal(null, _)) => isNullTest(a)
      case EqualNullSafe(Literal(null, _), b) => isNullTest(b)
      case EqualNullSafe(a, b) => eq(a, b).orElse(eq(b, a))
      case LessThan(a, b) =>
        (for { (c, t) <- colOf(a); v <- lit(b, t) }
          yield cmp(c, t, v)((mn, _) => mn < 0)).orElse(
          for { (c, t) <- colOf(b); v <- lit(a, t) } // v < col
            yield cmp(c, t, v)((_, mx) => mx > 0))
      case LessThanOrEqual(a, b) =>
        (for { (c, t) <- colOf(a); v <- lit(b, t) }
          yield cmp(c, t, v)((mn, _) => mn <= 0)).orElse(
          for { (c, t) <- colOf(b); v <- lit(a, t) }
            yield cmp(c, t, v)((_, mx) => mx >= 0))
      case GreaterThan(a, b) =>
        (for { (c, t) <- colOf(a); v <- lit(b, t) }
          yield cmp(c, t, v)((_, mx) => mx > 0)).orElse(
          for { (c, t) <- colOf(b); v <- lit(a, t) }
            yield cmp(c, t, v)((mn, _) => mn < 0))
      case GreaterThanOrEqual(a, b) =>
        (for { (c, t) <- colOf(a); v <- lit(b, t) }
          yield cmp(c, t, v)((_, mx) => mx >= 0)).orElse(
          for { (c, t) <- colOf(b); v <- lit(a, t) }
            yield cmp(c, t, v)((mn, _) => mn <= 0))
      case In(a, list) =>
        val statsCol = colOf(a)
        val bloomCol = bloomOf(a)
        if (statsCol.isEmpty && bloomCol.isEmpty) None
        else {
          val t = statsCol.map(_._2).getOrElse(bloomCol.get._2.colType)
          val vs = list.collect { case Literal(v, lt) if lt == t => v }
          // non-literal elements can admit rows the literal set cannot
          // prove absent — refuse unless every element is a literal
          if (vs.size != list.size) None
          else Some(inTest(vs.filter(_ != null), statsCol, bloomCol))
        }
      case InSet(a, hset) =>
        val statsCol = colOf(a)
        val bloomCol = bloomOf(a)
        if (statsCol.isEmpty && bloomCol.isEmpty) None
        else Some(inTest(hset.iterator.filter(_ != null).toSeq,
          statsCol, bloomCol))
      case IsNull(a) => isNullTest(a)
      case IsNotNull(a) => isNotNullTest(a)
      case StartsWith(a, Literal(pfx: org.apache.spark.unsafe.types.UTF8String,
          StringType)) if pfx != null =>
        // rigorous prefix admission on binary UTF8 order:
        //   max < pfx            ⇒ every value < every pfx-string;
        //   min.take(|pfx|) > pfx ⇒ first differing byte lies inside the
        //     truncated region, so every value > every pfx-string.
        // Anything else must admit.
        colOf(a).filter(_._2 == StringType).map { case (c, _) =>
          fs => fs.cols.get(c) match {
            case Some(st) if st.min != null && st.max != null =>
              val mn = st.min.asInstanceOf[
                org.apache.spark.unsafe.types.UTF8String]
              val mx = st.max.asInstanceOf[
                org.apache.spark.unsafe.types.UTF8String]
              mx.compareTo(pfx) >= 0 &&
                mn.substring(0, pfx.numChars).compareTo(pfx) <= 0
            case Some(_) => false // no non-null strings in the file
            case None => true
          }
        }
      case Not(EqualTo(a, b)) =>
        // only a single-valued file (min = max = v) is provably empty
        (for { (c, t) <- colOf(a); v <- lit(b, t) }
          yield cmp(c, t, v)((mn, mx) => !(mn == 0 && mx == 0))).orElse(
          for { (c, t) <- colOf(b); v <- lit(a, t) }
            yield cmp(c, t, v)((mn, mx) => !(mn == 0 && mx == 0)))
      case Or(l, r) =>
        for { tl <- translate(l, outIds, reg); tr <- translate(r, outIds, reg) }
          yield (fs: FileStats) => tl(fs) || tr(fs)
      case And(l, r) =>
        // nested under an Or; a missing side admits (partial pruning)
        val tl = translate(l, outIds, reg)
        val tr = translate(r, outIds, reg)
        if (tl.isEmpty && tr.isEmpty) None
        else Some((fs: FileStats) =>
          tl.forall(_(fs)) && tr.forall(_(fs)))
      case _ => None
    }
  }

  /** Add the rule to an already-built session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraOptimizations.contains(this))
      exp.extraOptimizations = exp.extraOptimizations :+ this
  }
}
