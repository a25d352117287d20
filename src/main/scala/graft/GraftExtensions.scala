package graft

import graft.functions.{ArrayDotProduct, JaroWinkler, LangIdExpr, NormalizeText, ShingleHash64, SimHash60, WindowMin64}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface for the custom codegen'd kernels — the
  * `SparkSessionExtensions` registration path (SURVEY §7: extensions
  * prefer composing builtins, then a custom `Expression`, then
  * `Rule`/`Strategy`; these kernels are the Expression tier, and this
  * class makes them first-class SQL functions so `spark.sql(...)`
  * pipelines can use them without the Scala DSL):
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * SELECT simhash60(graft_tokens), array_dot(a, b), lang_id(toks),
  *        shingle_hash64(toks, 3), window_min64(hashes, 4)
  * }}}
  *
  * Sessions that already exist (notebooks, tests) register the same
  * builders via [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
    // table-valued tier: the lake ops (time travel, merge-on-read,
    // manifest-pruned scan) as `SELECT * FROM graft_snapshot(...)`
    GraftExtensions.tableBuilders.foreach { case (name, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.ops", name), builder))
    }
    // plan-level tier: band-join → bucketed equi-join (fires only when
    // spark.graft.rangeJoin.bucketWidth is set positive)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // materialized-view rewrite: aggregates over a registered lake
    // version answer from the IVM-maintained view (no-op until
    // MvRewrite.register* is called)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    // metadata-only aggregates: global count/min/max over a registered
    // append-only version answer from the stats manifest (no-op until
    // MetaAggRewrite.register* is called)
    ext.injectOptimizerRule(_ => graft.plans.MetaAggRewrite)
    // automatic file skipping: filters over a registered catalog
    // version's scan read only manifest-admitted files (no-op until
    // ScanPruneRewrite.register* is called)
    ext.injectOptimizerRule(_ => graft.plans.ScanPruneRewrite)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal parameter, got $other")
  }

  private def longLit(e: Expression, fn: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal parameter, got $other")
  }

  private def strLit(e: Expression, fn: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a string literal parameter, got $other")
  }

  /** Arity guard for the table-valued builders: a surplus argument must
    * not be silently ignored (a user writing `graft_stats(dir, 'k',
    * 'v')` would otherwise get a manifest that never tracked 'v') and a
    * missing one must name the function and its signature instead of
    * surfacing as a bare IndexOutOfBoundsException. */
  private def expectArgs(fn: String, sig: String, args: Seq[Expression],
      n: Int): Unit =
    require(args.length == n,
      s"$fn expects exactly $n argument(s) — $fn($sig) — got ${args.length}")

  /** name → expression builder, shared by both registration paths. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "normalize_text" -> (args =>
      NormalizeText(args(0), strLit(args(1), "normalize_text"))),
    "jaro_winkler" -> (args => JaroWinkler(args(0), args(1))),
    "simhash60" -> (args => SimHash60(args.head)),
    "lang_id" -> (args => LangIdExpr(args.head)),
    "array_dot" -> (args => ArrayDotProduct(args(0), args(1))),
    "shingle_hash64" -> (args =>
      ShingleHash64(args(0), intLit(args(1), "shingle_hash64"))),
    "shingle_hash_seq64" -> (args =>
      ShingleHash64(args(0), intLit(args(1), "shingle_hash_seq64"),
        distinct = false)),
    "window_min64" -> (args =>
      WindowMin64(args(0), intLit(args(1), "window_min64"))),
    // seeds derive from k exactly as Dedup.minhashSeeds, so SQL and the
    // Column API produce identical signatures
    "minhash_sig" -> (args =>
      graft.functions.MinHashSig(args(0),
        graft.ops.Dedup.minhashSeeds(intLit(args(1), "minhash_sig")))))

  /** Table-valued SQL surface for the lake ops — a user at a pure SQL
    * prompt can time-travel, merge-on-read, and prune scans without the
    * Scala DSL. Manifests / DV tables are addressed by the parquet
    * directory they were persisted to (immutable side tables, so a path
    * IS a version). Every argument must be a literal: these resolve at
    * ANALYSIS time on the driver — the same planner-scale O(#files)
    * work every manifest consumer pays ([[graft.ops.Layout]] scaladoc).
    *
    * {{{
    * SELECT * FROM graft_snapshot('/data/t', '/data/_manifests/v1')
    * SELECT * FROM graft_read_dv('/data/t', '/data/_dv')
    * SELECT * FROM graft_snapshot_dv('/data/t', '/m/v3', '/dv/v3')
    * SELECT * FROM graft_pruned('/data/t', '/m/v3', 'l_orderkey', 100, 5000)
    * SELECT * FROM graft_bloom_read('/data/t', '/data/_bloom', 'v', 42)
    * }}}
    */
  val tableBuilders: Seq[(String, Seq[Expression] =>
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = {
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.logical
    def active = SparkSession.active
    // one hybrid count over either manifest shape: `manifest` opens the
    // second argument as a flat manifest dir or a two-level root
    def countRange(fn: String, sig: String,
        manifest: String => graft.ops.Layout.Manifest) =
      (args: Seq[Expression]) => {
        expectArgs(fn, sig, args, 5)
        val n = graft.ops.Layout.countRange(active, strLit(args(0), fn),
          manifest(strLit(args(1), fn)), strLit(args(2), fn),
          org.apache.spark.sql.functions.lit(longLit(args(3), fn)),
          org.apache.spark.sql.functions.lit(longLit(args(4), fn)))
        plan(active.range(1).select(
          org.apache.spark.sql.functions.lit(n).as("n_rows")))
      }
    Seq(
      "graft_snapshot" -> ((args: Seq[Expression]) => {
        expectArgs("graft_snapshot", "dataDir, manifestDir", args, 2)
        val s = active
        plan(graft.ops.Layout.snapshotRead(s,
          strLit(args(0), "graft_snapshot"),
          s.read.parquet(strLit(args(1), "graft_snapshot"))))
      }),
      "graft_read_dv" -> ((args: Seq[Expression]) => {
        expectArgs("graft_read_dv", "dataDir, dvDir", args, 2)
        val s = active
        plan(graft.ops.Layout.readWithDeletes(s,
          strLit(args(0), "graft_read_dv"),
          s.read.parquet(strLit(args(1), "graft_read_dv"))))
      }),
      "graft_snapshot_dv" -> ((args: Seq[Expression]) => {
        expectArgs("graft_snapshot_dv", "dataDir, manifestDir, dvDir", args, 3)
        val s = active
        plan(graft.ops.Layout.snapshotReadWithDeletes(s,
          strLit(args(0), "graft_snapshot_dv"),
          s.read.parquet(strLit(args(1), "graft_snapshot_dv")),
          s.read.parquet(strLit(args(2), "graft_snapshot_dv"))))
      }),
      "graft_pruned" -> ((args: Seq[Expression]) => {
        expectArgs("graft_pruned", "dataDir, manifestDir, col, lo, hi", args, 5)
        val s = active
        plan(graft.ops.Layout.prunedRead(s,
          strLit(args(0), "graft_pruned"),
          s.read.parquet(strLit(args(1), "graft_pruned")),
          strLit(args(2), "graft_pruned"),
          org.apache.spark.sql.graftbridge.ColumnBridge.column(args(3)),
          org.apache.spark.sql.graftbridge.ColumnBridge.column(args(4))))
      }),
      "graft_bloom_read" -> ((args: Seq[Expression]) => {
        expectArgs("graft_bloom_read", "dataDir, indexDir, col, value", args, 4)
        val s = active
        plan(graft.ops.Layout.bloomRead(s,
          strLit(args(0), "graft_bloom_read"),
          s.read.parquet(strLit(args(1), "graft_bloom_read")),
          strLit(args(2), "graft_bloom_read"),
          org.apache.spark.sql.graftbridge.ColumnBridge.column(args(3))))
      }),
      // the WRITE-side metadata op: `CREATE TABLE m AS SELECT * FROM
      // graft_stats(...)` persists a manifest from pure SQL
      "graft_stats" -> ((args: Seq[Expression]) => {
        expectArgs("graft_stats", "dataDir, col", args, 2)
        val s = active
        plan(graft.ops.Layout.statsManifest(s,
          strLit(args(0), "graft_stats"),
          Seq(strLit(args(1), "graft_stats"))))
      }),
      // BRANCH surface (q107/q109 semantics from pure SQL): commit,
      // fast-forward merge, and row provenance. Manifests are addressed
      // by their persisted parquet dirs like the rest of the family.
      //
      // graft_commit WRITES: reading `srcDir`, it appends one commit
      // under `dataDir` and returns that commit's manifest rows —
      // persist them (CREATE TABLE / INSERT) to retain the branch. The
      // write happens when the function RESOLVES (analysis time), the
      // same moment the rest of the family does its planner-scale
      // work — so one SQL statement = one commit, and EXPLAIN-ing the
      // statement also commits (documented; the metadata ops are
      // driver verbs, not lazy scans).
      "graft_commit" -> ((args: Seq[Expression]) => {
        expectArgs("graft_commit", "dataDir, srcDir, statsCol", args, 3)
        val s = active
        plan(graft.ops.Layout.commitAppend(s,
          s.read.parquet(strLit(args(1), "graft_commit")),
          strLit(args(0), "graft_commit"),
          Seq(strLit(args(2), "graft_commit"))))
      }),
      // `SELECT * FROM graft_merge(mainManifestDir, branchManifestDir)`
      // = the published manifest (main ∪ branch−main, file identity
      // scheme-insensitive) — persist it to publish, exactly the WAP
      // publish step as one SQL statement
      "graft_merge" -> ((args: Seq[Expression]) => {
        expectArgs("graft_merge", "mainManifestDir, branchManifestDir",
          args, 2)
        val s = active
        plan(graft.ops.Layout.mergeBranch(
          s.read.parquet(strLit(args(0), "graft_merge")),
          s.read.parquet(strLit(args(1), "graft_merge"))))
      }),
      // snapshot read + commit_id provenance column — "which ingest
      // batch produced this row" is GROUP BY commit_id from pure SQL
      "graft_lineage" -> ((args: Seq[Expression]) => {
        expectArgs("graft_lineage", "dataDir, manifestDir", args, 2)
        val s = active
        plan(graft.ops.Layout.lineageRead(s,
          strLit(args(0), "graft_lineage"),
          s.read.parquet(strLit(args(1), "graft_lineage"))))
      }),
      // CORPUS WRITE-SIDE surface (d55/d56/d57 from pure SQL): the
      // token-budget mix, the per-source epoch plan, and the
      // deterministic shard shuffle. Budgets are addressed like every
      // other side table — a persisted parquet dir with (source,
      // budget) columns — so the full "recipe → shards" path runs from
      // a SQL prompt: CREATE TABLE mix AS SELECT * FROM
      // graft_budget_mix('/corpus', 'doc_id', 'text', 'source',
      // '/recipes/v1', 64); the plans stay the Scala ops' plans.
      "graft_budget_mix" -> ((args: Seq[Expression]) => {
        expectArgs("graft_budget_mix",
          "docsDir, idCol, textCol, sourceCol, budgetsDir, bucketSize",
          args, 6)
        val s = active
        plan(graft.ops.CorpusOps.budgetedMix(
          s.read.parquet(strLit(args(0), "graft_budget_mix")),
          strLit(args(1), "graft_budget_mix"),
          strLit(args(2), "graft_budget_mix"),
          strLit(args(3), "graft_budget_mix"),
          s.read.parquet(strLit(args(4), "graft_budget_mix")),
          intLit(args(5), "graft_budget_mix").toLong))
      }),
      "graft_epoch_plan" -> ((args: Seq[Expression]) => {
        expectArgs("graft_epoch_plan",
          "docsDir, idCol, textCol, sourceCol, budgetsDir, bucketSize",
          args, 6)
        val s = active
        plan(graft.ops.CorpusOps.epochPlan(
          s.read.parquet(strLit(args(0), "graft_epoch_plan")),
          strLit(args(1), "graft_epoch_plan"),
          strLit(args(2), "graft_epoch_plan"),
          strLit(args(3), "graft_epoch_plan"),
          s.read.parquet(strLit(args(4), "graft_epoch_plan")),
          intLit(args(5), "graft_epoch_plan").toLong))
      }),
      "graft_shard_shuffle" -> ((args: Seq[Expression]) => {
        expectArgs("graft_shard_shuffle", "docsDir, idCol, nShards",
          args, 3)
        val s = active
        plan(graft.ops.CorpusOps.shardShuffle(
          s.read.parquet(strLit(args(0), "graft_shard_shuffle")),
          strLit(args(1), "graft_shard_shuffle"),
          intLit(args(2), "graft_shard_shuffle")))
      }),
      // FULL-TEXT search from SQL through a persisted token-bloom
      // index — SELECT * FROM graft_token_search('/t', '/idx', 'text',
      // 'needle'); the _dv variant additionally subtracts a persisted
      // DV set, the takedown-honoring search path
      "graft_token_search" -> ((args: Seq[Expression]) => {
        expectArgs("graft_token_search",
          "dataDir, indexDir, textCol, term", args, 4)
        val s = active
        plan(graft.ops.Layout.tokenBloomRead(s,
          strLit(args(0), "graft_token_search"),
          s.read.parquet(strLit(args(1), "graft_token_search")),
          strLit(args(2), "graft_token_search"),
          strLit(args(3), "graft_token_search")))
      }),
      "graft_token_search_dv" -> ((args: Seq[Expression]) => {
        expectArgs("graft_token_search_dv",
          "dataDir, indexDir, textCol, term, dvDir", args, 5)
        val s = active
        plan(graft.ops.Layout.tokenBloomReadWithDeletes(s,
          strLit(args(0), "graft_token_search_dv"),
          s.read.parquet(strLit(args(1), "graft_token_search_dv")),
          strLit(args(2), "graft_token_search_dv"),
          strLit(args(3), "graft_token_search_dv"),
          s.read.parquet(strLit(args(4), "graft_token_search_dv"))))
      }),
      // CHANGE-DATA-FEED from SQL: the diff between two persisted
      // (manifest, DV) versions — SELECT * FROM graft_snapshot_diff(
      // '/t', '/m/v1', '/m/v2', '/dv/v1', '/dv/v2') returns the base
      // columns + _change_type, scanning only the changed files
      "graft_snapshot_diff" -> ((args: Seq[Expression]) => {
        expectArgs("graft_snapshot_diff",
          "dataDir, oldManifestDir, newManifestDir, oldDvDir, newDvDir",
          args, 5)
        val s = active
        plan(graft.ops.Layout.snapshotDiff(s,
          strLit(args(0), "graft_snapshot_diff"),
          s.read.parquet(strLit(args(1), "graft_snapshot_diff")),
          s.read.parquet(strLit(args(2), "graft_snapshot_diff")),
          s.read.parquet(strLit(args(3), "graft_snapshot_diff")),
          s.read.parquet(strLit(args(4), "graft_snapshot_diff"))))
      }),
      // read a CATALOG VERSION from SQL: resolve the atomic pointer's
      // (artifact → ref) table once, then snapshot-read the data dir
      // through the version's manifest, subtracting its DV set when the
      // version carries a 'dv' artifact — SELECT * FROM
      // graft_catalog_read('/data/t', '/data/catalog', 2)
      "graft_catalog_read" -> ((args: Seq[Expression]) => {
        expectArgs("graft_catalog_read",
          "dataDir, catalogPath, version", args, 3)
        val s = active
        val refs = graft.ops.Catalog.resolve(s,
          strLit(args(1), "graft_catalog_read"),
          intLit(args(2), "graft_catalog_read"))
        val manifest = s.read.parquet(refs.getOrElse("manifest",
          throw new IllegalArgumentException(
            "graft_catalog_read needs a 'manifest' artifact; version has: " +
              refs.keys.toSeq.sorted.mkString(", "))))
        val dataDir = strLit(args(0), "graft_catalog_read")
        plan(refs.get("dv") match {
          case Some(dvDir) => graft.ops.Layout.snapshotReadWithDeletes(
            s, dataDir, manifest, s.read.parquet(dvDir))
          case None => graft.ops.Layout.snapshotRead(s, dataDir, manifest)
        })
      }),
      // hybrid IVM from SQL: refresh a persisted (key, n, total, min_v,
      // max_v) view from a persisted signed delta — SELECT * FROM
      // graft_hybrid_refresh('/views/v1', '/deltas/today', '/data/t',
      //                      'g', 'x', 'sign')
      "graft_hybrid_refresh" -> ((args: Seq[Expression]) => {
        expectArgs("graft_hybrid_refresh",
          "stateDir, deltaDir, baseNewDir, keyCol, valueCol, signCol",
          args, 6)
        val s = active
        plan(graft.ops.Merge.refreshHybridView(
          s.read.parquet(strLit(args(0), "graft_hybrid_refresh")),
          s.read.parquet(strLit(args(1), "graft_hybrid_refresh")),
          s.read.parquet(strLit(args(2), "graft_hybrid_refresh")),
          strLit(args(3), "graft_hybrid_refresh"),
          strLit(args(4), "graft_hybrid_refresh"),
          strLit(args(5), "graft_hybrid_refresh")))
      }),
      // QUERY-REWRITE registration from SQL — the MV / metadata-agg
      // optimizer rules become reachable from a pure SQL prompt:
      //   SELECT * FROM graft_mv_register('sales_by_k', '/t', '/cat',
      //                                   'k', 'v', 2)
      // registers catalog version 2's (manifest, dv?, view) so later
      // aggregates over that version answer from the view, and returns
      // the view rows; graft_meta_register does the same for the
      // manifest-answered global count/min/max panel (append-only
      // versions only — a non-empty DV refuses, same as the Scala API).
      // Registration happens at ANALYSIS time, the documented driver-
      // verb contract of this family (graft_commit precedent). SQL
      // registrations cover raw-column views; a view over a derived
      // measure (e.g. a decimal cast) registers through the Scala API's
      // `prep` hook instead.
      "graft_mv_register" -> ((args: Seq[Expression]) => {
        expectArgs("graft_mv_register",
          "name, dataDir, catalogPath, keyCol, valueCol, version", args, 6)
        val s = active
        val cat = strLit(args(2), "graft_mv_register")
        val v = intLit(args(5), "graft_mv_register")
        graft.plans.MvRewrite.registerFromCatalog(s,
          strLit(args(0), "graft_mv_register"),
          strLit(args(1), "graft_mv_register"), cat,
          strLit(args(3), "graft_mv_register"),
          strLit(args(4), "graft_mv_register"), version = Some(v))
        plan(s.read.parquet(graft.ops.Catalog.ref(s, cat, v, "view")))
      }),
      // filter-time file skipping from SQL: register catalog version
      // `v`'s base scan so every later `WHERE` over
      // graft_catalog_read(dataDir, cat, v) reads only manifest-admitted
      // files; returns the version's manifest rows (the stats the
      // admission will use). DV'd versions register fine — pruning the
      // base side of the merge-on-read anti-join is lossless.
      "graft_prune_register" -> ((args: Seq[Expression]) => {
        expectArgs("graft_prune_register",
          "name, dataDir, catalogPath, version", args, 4)
        val s = active
        val cat = strLit(args(2), "graft_prune_register")
        val v = intLit(args(3), "graft_prune_register")
        graft.plans.ScanPruneRewrite.registerFromCatalog(s,
          strLit(args(0), "graft_prune_register"),
          strLit(args(1), "graft_prune_register"), cat, version = Some(v))
        plan(s.read.parquet(graft.ops.Catalog.ref(s, cat, v, "manifest")))
      }),
      // OPTIMIZE ZORDER from SQL — the clustering maintenance verb as a
      // driver-resolved TVF (graft_commit precedent): rewrites the
      // current version's live rows z-clustered on (xCol, yCol), commits
      // the next catalog version (DV folded in), and returns the new
      // version's manifest rows.
      //   SELECT * FROM graft_optimize_zorder('/t', '/cat', '/artifacts',
      //     'l_partkey', 'l_suppkey', 15, 16, 'l_partkey,l_suppkey')
      "graft_optimize_zorder" -> ((args: Seq[Expression]) => {
        expectArgs("graft_optimize_zorder",
          "dataDir, catalogPath, artifactDir, xCol, yCol, bits, " +
            "numFiles, statsColsCsv", args, 8)
        val s = active
        val cat = strLit(args(1), "graft_optimize_zorder")
        val v = graft.ops.Layout.optimizeZorder(s,
          strLit(args(0), "graft_optimize_zorder"), cat,
          strLit(args(2), "graft_optimize_zorder"),
          strLit(args(3), "graft_optimize_zorder"),
          strLit(args(4), "graft_optimize_zorder"),
          intLit(args(5), "graft_optimize_zorder"),
          intLit(args(6), "graft_optimize_zorder"),
          strLit(args(7), "graft_optimize_zorder")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        plan(s.read.parquet(graft.ops.Catalog.ref(s, cat, v, "manifest")))
      }),
      // JOIN-DRIVEN dynamic file skipping from SQL: read only the fact
      // files whose manifest key span can hold at least one of the dim
      // side's join keys — the file-level runtime filter. The optional
      // trailing argument is a SQL predicate applied to the dim scan
      // BEFORE its keys are collected (the selective dim filter is the
      // whole point). Join the result in the enclosing statement:
      //   SELECT ... FROM graft_join_skip('/fact', '/m', 'l_partkey',
      //     '/dim', 'p_partkey', 'p_size = 1') f JOIN ...
      "graft_join_skip" -> ((args: Seq[Expression]) => {
        require(args.length == 5 || args.length == 6,
          "graft_join_skip(factDir, manifestDir, keyCol, dimDir, " +
            "dimKeyCol[, dimWhereSql])")
        val s = active
        val keyCol = strLit(args(2), "graft_join_skip")
        val dim0 = s.read.parquet(strLit(args(3), "graft_join_skip"))
        val dim = if (args.length == 6)
          dim0.where(strLit(args(5), "graft_join_skip")) else dim0
        plan(graft.ops.Layout.joinSkipRead(s,
          strLit(args(0), "graft_join_skip"),
          Some(s.read.parquet(strLit(args(1), "graft_join_skip"))), None,
          dim.select(org.apache.spark.sql.functions
            .col(strLit(args(4), "graft_join_skip")).as(keyCol)),
          keyCol))
      }),
      // [[graft_join_skip]] through a SELF-DESCRIBING bloom index
      // instead of a range manifest — the adverse-clustering case where
      // the fact is laid out by some other column and only the per-file
      // Bloom can reject files holding none of the dim keys
      "graft_join_skip_bloom" -> ((args: Seq[Expression]) => {
        require(args.length == 5 || args.length == 6,
          "graft_join_skip_bloom(factDir, bloomIndexDir, keyCol, " +
            "dimDir, dimKeyCol[, dimWhereSql])")
        val s = active
        val keyCol = strLit(args(2), "graft_join_skip_bloom")
        val dim0 = s.read.parquet(strLit(args(3), "graft_join_skip_bloom"))
        val dim = if (args.length == 6)
          dim0.where(strLit(args(5), "graft_join_skip_bloom")) else dim0
        plan(graft.ops.Layout.joinSkipRead(s,
          strLit(args(0), "graft_join_skip_bloom"), None,
          Some(s.read.parquet(strLit(args(1), "graft_join_skip_bloom"))),
          dim.select(org.apache.spark.sql.functions
            .col(strLit(args(4), "graft_join_skip_bloom")).as(keyCol)),
          keyCol))
      }),
      // auto-OPTIMIZE from SQL: the manifest picks none/delta/full
      // (graft.ops.Layout.maintainClustering); returns one row
      // (action, version). Driver verb — the maintenance runs when the
      // function resolves.
      //   SELECT * FROM graft_maintain('/t', '/cat', '/artifacts',
      //     'x', 'y', 15, 16, 'x,y', 2)
      "graft_maintain" -> ((args: Seq[Expression]) => {
        expectArgs("graft_maintain",
          "dataDir, catalogPath, artifactDir, xCol, yCol, bits, " +
            "numFiles, statsColsCsv, lastOptimizedVersion", args, 9)
        val s = active
        val (action, v) = graft.ops.Layout.maintainClustering(s,
          strLit(args(0), "graft_maintain"),
          strLit(args(1), "graft_maintain"),
          strLit(args(2), "graft_maintain"),
          strLit(args(3), "graft_maintain"),
          strLit(args(4), "graft_maintain"),
          intLit(args(5), "graft_maintain"),
          intLit(args(6), "graft_maintain"),
          strLit(args(7), "graft_maintain")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          intLit(args(8), "graft_maintain"))
        plan(s.range(1).select(
          org.apache.spark.sql.functions.lit(action).as("action"),
          org.apache.spark.sql.functions.lit(v).as("version")))
      }),
      // DESCRIBE HISTORY: one row per (version, artifact, ref) across
      // every retained catalog version — the table's whole lineage
      // (data versions, DV waves, schema commits, index publishes) as
      // ordinary queryable rows. O(#versions · #artifacts) driver rows.
      //   SELECT * FROM graft_history('/cat') WHERE artifact = 'colmap'
      "graft_history" -> ((args: Seq[Expression]) => {
        expectArgs("graft_history", "catalogPath", args, 1)
        val s = active
        implicit val is: org.apache.spark.sql.SparkSession = s
        val cat = strLit(args(0), "graft_history")
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        graft.ops.Versions.listVersions(cat).foreach { v =>
          graft.ops.Catalog.resolve(s, cat, v).toSeq.sortBy(_._1)
            .foreach { case (a, r) =>
              rows.add(org.apache.spark.sql.Row(v, a, r))
            }
        }
        plan(s.createDataFrame(rows,
          new org.apache.spark.sql.types.StructType()
            .add("version", "int", false)
            .add("artifact", "string", false)
            .add("ref", "string", false)))
      }),
      // AUTOMATIC join-driven skipping from SQL: opt a prune-registered
      // scan into [[graft.plans.JoinSkipRewrite]] — after this, ANY
      // inner equi-join of the version against a delta-scale dim prunes
      // its fact files with no pruning verb in the query.
      //   SELECT * FROM graft_join_skip_register('name', 'l_partkey', 10000)
      "graft_join_skip_register" -> ((args: Seq[Expression]) => {
        expectArgs("graft_join_skip_register",
          "scanName, keyCol, maxKeys", args, 3)
        val s = active
        val name = strLit(args(0), "graft_join_skip_register")
        val keyCol = strLit(args(1), "graft_join_skip_register")
        val cap = intLit(args(2), "graft_join_skip_register")
        graft.plans.JoinSkipRewrite.register(s, name, keyCol, cap)
        plan(s.range(1).select(
          org.apache.spark.sql.functions.lit(name).as("scan_name"),
          org.apache.spark.sql.functions.lit(keyCol).as("key_col"),
          org.apache.spark.sql.functions.lit(cap).as("max_keys")))
      }),
      // MERGE INTO (merge-on-read) from SQL — a driver verb
      // (graft_commit precedent): matched keys tombstone via DV
      // addresses resolved through the manifest-pruned scan, upserts
      // land as one append commit, and the new catalog version
      // publishes atomically. Returns the new version number.
      //   SELECT * FROM graft_merge_table('/t', '/cat', '/artifacts',
      //     '/changes', 'o_orderkey', 'is_delete', 'o_orderkey')
      "graft_merge_table" -> ((args: Seq[Expression]) => {
        expectArgs("graft_merge_table",
          "dataDir, catalogPath, artifactDir, changesDir, keyCol, " +
            "deleteCol, statsColsCsv", args, 7)
        val s = active
        val v = graft.ops.Layout.mergeOnReadCommit(s,
          strLit(args(0), "graft_merge_table"),
          strLit(args(1), "graft_merge_table"),
          strLit(args(2), "graft_merge_table"),
          s.read.parquet(strLit(args(3), "graft_merge_table")),
          strLit(args(4), "graft_merge_table"),
          strLit(args(5), "graft_merge_table"),
          strLit(args(6), "graft_merge_table")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        plan(s.range(1).select(
          org.apache.spark.sql.functions.lit(v).as("version")))
      }),
      // SCHEMA EVOLUTION from SQL — a driver verb over the current
      // catalog version's column-mapping artifact. action ∈ {rename,
      // drop, add, retype}; arg2 is the new name (rename), the dtype
      // (add/retype), or ignored (drop — pass ''). Commits the evolved
      // mapping atomically (other artifacts carried forward) and
      // returns the new mapping rows.
      //   SELECT * FROM graft_evolve('/cat', '/artifacts', 'rename',
      //     'c_acctbal', 'balance')
      "graft_evolve" -> ((args: Seq[Expression]) => {
        expectArgs("graft_evolve",
          "catalogPath, artifactDir, action, name, arg2", args, 5)
        val s = active
        val cat = strLit(args(0), "graft_evolve")
        val refs = graft.ops.Catalog.resolveCurrent(s, cat)
        val cur = s.read.parquet(refs.getOrElse(
          graft.ops.SchemaEvolution.Artifact,
          throw new IllegalArgumentException(
            s"catalog $cat carries no column-mapping artifact")))
        val name = strLit(args(3), "graft_evolve")
        val arg2 = strLit(args(4), "graft_evolve")
        val next = strLit(args(2), "graft_evolve") match {
          case "rename" => graft.ops.SchemaEvolution.rename(s, cur, name, arg2)
          case "drop" => graft.ops.SchemaEvolution.dropColumn(s, cur, name)
          case "add" => graft.ops.SchemaEvolution.addColumn(s, cur, name, arg2)
          case "retype" => graft.ops.SchemaEvolution.retype(s, cur, name, arg2)
          case other => throw new IllegalArgumentException(
            s"graft_evolve: unknown action '$other' " +
              "(rename | drop | add | retype)")
        }
        graft.ops.SchemaEvolution.evolveCommit(s, cat,
          strLit(args(1), "graft_evolve"), next)
        plan(next)
      }),
      // the evolved snapshot at a catalog version: schema (colmap),
      // file set (manifest) and row tombstones (dv) from one atomic
      // version — schema time travel included (old versions keep their
      // old schema over the same immutable files)
      "graft_read_evolved" -> ((args: Seq[Expression]) => {
        expectArgs("graft_read_evolved", "catalogPath, version", args, 2)
        val s = active
        plan(graft.ops.SchemaEvolution.evolvedCatalogRead(s,
          strLit(args(0), "graft_read_evolved"),
          intLit(args(1), "graft_read_evolved")))
      }),
      // hybrid metadata counts from SQL: fully-contained files answer
      // from manifest rows, only boundary-straddling files scan.
      //   SELECT * FROM graft_count_range('/t', '/m', 'k', 100, 5000)
      // `_grouped` takes a statsManifestPartitioned ROOT instead of a
      // flat manifest dir — the group rollup prunes first, so the
      // driver never collects the whole listing.
      "graft_count_range" -> countRange("graft_count_range",
        "dataDir, manifestDir, colName, lo, hi",
        p => graft.ops.Layout.Manifest.Rows(active.read.parquet(p))),
      "graft_count_range_grouped" -> countRange("graft_count_range_grouped",
        "dataDir, manifestRoot, colName, lo, hi",
        graft.ops.Layout.Manifest.TwoLevel),
      // the incremental twin: cluster ONLY files added since
      // baseVersion (the last optimized version); base files and their
      // DV addresses carry forward untouched. Returns the new
      // version's manifest rows.
      "graft_optimize_zorder_delta" -> ((args: Seq[Expression]) => {
        expectArgs("graft_optimize_zorder_delta",
          "dataDir, catalogPath, artifactDir, baseVersion, xCol, yCol, " +
            "bits, numFiles, statsColsCsv", args, 9)
        val s = active
        val cat = strLit(args(1), "graft_optimize_zorder_delta")
        val v = graft.ops.Layout.optimizeZorderDelta(s,
          strLit(args(0), "graft_optimize_zorder_delta"), cat,
          strLit(args(2), "graft_optimize_zorder_delta"),
          intLit(args(3), "graft_optimize_zorder_delta"),
          strLit(args(4), "graft_optimize_zorder_delta"),
          strLit(args(5), "graft_optimize_zorder_delta"),
          intLit(args(6), "graft_optimize_zorder_delta"),
          intLit(args(7), "graft_optimize_zorder_delta"),
          strLit(args(8), "graft_optimize_zorder_delta")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        plan(s.read.parquet(graft.ops.Catalog.ref(s, cat, v, "manifest")))
      }),
      // attach a persisted bloom index to a graft_prune_register'd scan:
      // equality / IN predicates on `colName` then skip files whose bit
      // set rejects the probe — the case min/max stats cannot serve (a
      // high-cardinality key scattered across every file). Returns the
      // index rows. mBits/kHashes must match the index build.
      "graft_prune_blooms" -> ((args: Seq[Expression]) => {
        expectArgs("graft_prune_blooms",
          "name, bloomDir, colName, mBits, kHashes", args, 5)
        val s = active
        val idx = s.read.parquet(strLit(args(1), "graft_prune_blooms"))
        graft.plans.ScanPruneRewrite.registerBlooms(s,
          strLit(args(0), "graft_prune_blooms"),
          strLit(args(2), "graft_prune_blooms"), idx,
          intLit(args(3), "graft_prune_blooms"),
          intLit(args(4), "graft_prune_blooms"))
        plan(idx)
      }),
      // self-describing variant: probe sizes come from the index's own
      // sentinel row (bloomIndexSized), so they cannot mismatch
      "graft_prune_blooms_self" -> ((args: Seq[Expression]) => {
        expectArgs("graft_prune_blooms_self",
          "name, bloomDir, colName", args, 3)
        val s = active
        val idx = s.read.parquet(strLit(args(1), "graft_prune_blooms_self"))
        graft.plans.ScanPruneRewrite.registerBloomsSelf(s,
          strLit(args(0), "graft_prune_blooms_self"),
          strLit(args(2), "graft_prune_blooms_self"), idx)
        plan(idx)
      }),
      "graft_meta_register" -> ((args: Seq[Expression]) => {
        expectArgs("graft_meta_register",
          "name, dataDir, catalogPath, statsColsCsv, version", args, 5)
        val s = active
        val cat = strLit(args(2), "graft_meta_register")
        val v = intLit(args(4), "graft_meta_register")
        graft.plans.MetaAggRewrite.registerFromCatalog(s,
          strLit(args(0), "graft_meta_register"),
          strLit(args(1), "graft_meta_register"), cat,
          strLit(args(3), "graft_meta_register")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          version = Some(v))
        plan(s.read.parquet(graft.ops.Catalog.ref(s, cat, v, "manifest")))
      }),
      // vector RETRIEVAL from SQL: a persisted IVF index (IvfIndex.save
      // layout) probed by a query table — SELECT * FROM
      // graft_knn_probe('/indexes/corpus', '/queries/today',
      //                 'qid', 'qv', 5, 2)
      "graft_knn_probe" -> ((args: Seq[Expression]) => {
        expectArgs("graft_knn_probe",
          "indexPath, queriesDir, idCol, vecCol, k, nprobe", args, 6)
        implicit val s: SparkSession = active
        plan(graft.ops.Similarity.IvfIndex
          .load(strLit(args(0), "graft_knn_probe"))
          .knnProbe(
            s.read.parquet(strLit(args(1), "graft_knn_probe")),
            strLit(args(2), "graft_knn_probe"),
            strLit(args(3), "graft_knn_probe"),
            intLit(args(4), "graft_knn_probe"),
            intLit(args(5), "graft_knn_probe")))
      }),
      // CATALOG COMMIT from SQL — the cross-artifact atomic flip as a
      // driver TVF: pairsCsv is 'artifact=ref,artifact=ref,...'; the
      // optional tsMillis stamps committed_at deterministically
      // (wall clock otherwise). Returns one row (version).
      //   SELECT * FROM graft_catalog_commit('/cat',
      //     'manifest=/arts/m1,dv=/arts/dv1'[, 1700000000000])
      "graft_catalog_commit" -> ((args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "graft_catalog_commit(catalogPath, pairsCsv[, tsMillis])")
        val s = active
        val refs = strLit(args(1), "graft_catalog_commit")
          .split(",").map(_.trim).filter(_.nonEmpty).map { p =>
            val i = p.indexOf('=')
            require(i > 0, s"graft_catalog_commit: bad pair '$p' " +
              "(want artifact=ref)")
            p.substring(0, i) -> p.substring(i + 1)
          }.toMap
        val ts = if (args.length == 3)
          Some(longLit(args(2), "graft_catalog_commit")) else None
        val v = graft.ops.Catalog.commit(s,
          strLit(args(0), "graft_catalog_commit"), refs, ts)
        plan(s.range(1).select(
          org.apache.spark.sql.functions.lit(v).as("version")))
      }),
      // VACUUM from SQL — reference-based GC, the q121 verb as a driver
      // TVF (graft_commit precedent: runs at analysis time): retain the
      // newest `keep` catalog versions, delete every child of the
      // artifact roots no retained version references. Returns one row
      // per deleted directory (empty result = nothing was orphaned).
      //   SELECT * FROM graft_vacuum('/cat', 2, '/artifacts')
      "graft_vacuum" -> ((args: Seq[Expression]) => {
        expectArgs("graft_vacuum",
          "catalogPath, keep, artifactRootsCsv", args, 3)
        val s = active
        val deleted = graft.ops.Catalog.vacuumKeep(s,
          strLit(args(0), "graft_vacuum"),
          intLit(args(1), "graft_vacuum"),
          strLit(args(2), "graft_vacuum")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        deleted.sorted.foreach(d =>
          rows.add(org.apache.spark.sql.Row(d)))
        plan(s.createDataFrame(rows,
          new org.apache.spark.sql.types.StructType()
            .add("deleted", "string", false)))
      }),
      // TIMESTAMP TIME TRAVEL from SQL: resolve "the catalog as of ts"
      // to a version (graft_as_of), or read that world directly
      // (graft_read_asof = graft_catalog_read at the resolved version).
      //   SELECT * FROM graft_read_asof('/t', '/cat', 1700000000000)
      "graft_as_of" -> ((args: Seq[Expression]) => {
        expectArgs("graft_as_of", "catalogPath, tsMillis", args, 2)
        val s = active
        val cat = strLit(args(0), "graft_as_of")
        val v = graft.ops.Catalog.resolveAsOf(s, cat,
          longLit(args(1), "graft_as_of"))
        plan(s.range(1).select(
          org.apache.spark.sql.functions.lit(v).as("version"),
          org.apache.spark.sql.functions.lit(
            graft.ops.Catalog.committedAt(s, cat, v)).as("committed_at")))
      }),
      "graft_read_asof" -> ((args: Seq[Expression]) => {
        expectArgs("graft_read_asof",
          "dataDir, catalogPath, tsMillis", args, 3)
        val s = active
        val cat = strLit(args(1), "graft_read_asof")
        val v = graft.ops.Catalog.resolveAsOf(s, cat,
          longLit(args(2), "graft_read_asof"))
        val refs = graft.ops.Catalog.resolve(s, cat, v)
        val manifest = s.read.parquet(refs.getOrElse("manifest",
          throw new IllegalArgumentException(
            "graft_read_asof needs a 'manifest' artifact; version has: " +
              refs.keys.toSeq.sorted.mkString(", "))))
        val dataDir = strLit(args(0), "graft_read_asof")
        plan(refs.get("dv") match {
          case Some(dvDir) => graft.ops.Layout.snapshotReadWithDeletes(
            s, dataDir, manifest, s.read.parquet(dvDir))
          case None => graft.ops.Layout.snapshotRead(s, dataDir, manifest)
        })
      }))
  }

  /** Register the kernels on an already-built session. */
  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, builder) =>
      org.apache.spark.sql.graftbridge.ColumnBridge
        .registerFunction(spark, name, builder)
    }
    tableBuilders.foreach { case (name, builder) =>
      org.apache.spark.sql.graftbridge.ColumnBridge
        .registerTableFunction(spark, name, builder)
    }
  }
}
