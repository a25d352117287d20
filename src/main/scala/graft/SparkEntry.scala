package graft

import graft.diff.{DatasetComparator, DiffOptions}
import graft.schema.{Flattener, SchemaUtils}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Ckpt.CkptSyntax

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] exercises an operator from SURVEY.md §2 (or
  * a §7 extension); every SQL-expressible entry has a DuckDB oracle in
  * [[oracleSql]] with IDENTICAL output column names and deterministic
  * values (decimal-exact arithmetic, explicit final casts, stable sorts
  * with unique tiebreaks).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Per-JVM scratch root for the round-trip gates (avro/xml/fixed-width
    * writes): every invocation lands under ONE directory that a shutdown
    * hook removes recursively, so repeated bench reps / gate replays
    * cannot accrete /tmp litter across the JVM lifetime. */
  private lazy val gateTmp: String = {
    val root = java.nio.file.Files.createTempDirectory("graft-gate-rt")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(root.toFile)
    }))
    root.toString
  }

  /** Fresh per-invocation scratch dir under [[gateTmp]] — for gates
    * that need a unique path each replay (streaming checkpoints, write
    * targets) but must not leave /tmp litter across bench reps. */
  private def gateScratch(tag: String): String = {
    val p = java.nio.file.Paths.get(gateTmp,
      tag + "-" + java.util.UUID.randomUUID().toString.replace("-", ""))
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Shared CTE chain for the ingest front door (s32 whole-pipeline
    * admission, s36 capstone): candidate feed → near-dup survival vs
    * the even corpus → contamination survival vs the odd benchmark →
    * token counting → plain-window budget prefix. Ends with
    * `adm` = admitted (doc_id, source, n_tokens); `cand0` stays in
    * scope (CTE scoping is lexical) for consumers needing the text. */
  private lazy val frontDoorCtes: String = {
    val candSql =
      """SELECT doc_id + 2000000 AS doc_id, source, text FROM documents
        |  WHERE doc_id % 10 = 2
        |UNION ALL
        |SELECT doc_id + 3000000, source, text FROM documents
        |  WHERE doc_id % 10 = 3
        |UNION ALL
        |SELECT doc_id + 4000000, source, reverse(text) FROM documents
        |  WHERE doc_id % 10 = 6""".stripMargin
    val ndSql = OracleSql.nearDupIncremental(
      "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0",
      "SELECT doc_id, text FROM cand0",
      k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000)
    val budgetVals = (0 until 20).map(k => s"('src$k', ${60L + 29L * k})")
      .mkString(", ")
    s"""cand0 AS ($candSql),
       |nd AS (SELECT doc_id FROM ($ndSql)),
       |surv1 AS (SELECT c.* FROM cand0 c JOIN nd USING (doc_id)),
       |cfps AS (${OracleSql.winnow("SELECT doc_id, text FROM surv1", 5, 4)}),
       |bfps AS (SELECT DISTINCT fp FROM (${OracleSql.winnow(
           "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1", 5, 4)})),
       |ct AS (
       |  SELECT c.doc_id FROM cfps c LEFT JOIN bfps b ON c.fp = b.fp
       |  GROUP BY 1
       |  HAVING CAST(SUM(CASE WHEN b.fp IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |    / COUNT(*) < 0.5),
       |surv2 AS (SELECT s1.* FROM surv1 s1 JOIN ct USING (doc_id)),
       |d AS (
       |  SELECT doc_id, source,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(${OracleSql.toks("text")}) END AS BIGINT) AS n_tokens
       |  FROM surv2),
       |b(source, budget) AS (VALUES $budgetVals),
       |c2 AS (
       |  SELECT d.doc_id, d.source, d.n_tokens, b.budget,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY d.source
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM d JOIN b USING (source)),
       |adm AS (SELECT doc_id, source, n_tokens FROM c2 WHERE cb < budget)""".stripMargin
  }

  /** Shared oracle for the token-budget mix (d55 batch, s30 streaming
    * fold — both must equal this plain-window greedy prefix). Budgets
    * come from the same arithmetic the gates use, so they cannot
    * drift. */
  private lazy val budgetMixOracle: String = {
    val vals = (0 until 10).map(k => s"('src$k', ${120L + 137L * k})")
      .mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(${OracleSql.toks("text")}) END AS BIGINT) AS n_tokens
       |  FROM documents),
       |b(source, budget) AS (VALUES $vals),
       |c AS (
       |  SELECT d.doc_id, d.source, d.n_tokens, b.budget,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY d.source
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM d JOIN b USING (source))
       |SELECT doc_id, source, n_tokens FROM c WHERE cb < budget
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared oracle CTE chain for the d56 epoch plan and d58's fold of
    * it: `e` is the admitted (doc_id, source, n_tokens, n_epochs) set —
    * full epochs = budget div source tokens, remainder admitted by the
    * same greedy prefix as [[budgetMixOracle]]. Budgets come from the
    * gates' own arithmetic so they cannot drift. */
  private lazy val epochPlanCtes: String = {
    val vals = (0 until 20).map(k => s"('src$k', ${700L + 600L * k})")
      .mkString(", ")
    s"""d AS (
       |  SELECT doc_id, source,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(${OracleSql.toks("text")}) END AS BIGINT)
       |      AS n_tokens
       |  FROM documents),
       |b(source, budget) AS (VALUES $vals),
       |t AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tt
       |      FROM d GROUP BY 1),
       |p AS (
       |  SELECT t.source,
       |    CASE WHEN tt > 0 THEN CAST(budget AS BIGINT) // tt
       |         ELSE 0 END AS fe,
       |    CAST(budget AS BIGINT) -
       |      (CASE WHEN tt > 0 THEN CAST(budget AS BIGINT) // tt
       |            ELSE 0 END) * tt AS rem
       |  FROM t JOIN b USING (source)),
       |c AS (
       |  SELECT d.doc_id, d.source, d.n_tokens, p.fe, p.rem,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY d.source
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM d JOIN p USING (source)),
       |e AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(fe + (CASE WHEN cb < rem THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_epochs
       |  FROM c
       |  WHERE fe + (CASE WHEN cb < rem THEN 1 ELSE 0 END) > 0)""".stripMargin
  }

  /** Shared d9/d59/d60 fixture: the corpus with two planted near-dup
    * families and its LSH→CC cluster table. The leakage audit (d59) and
    * its reseat fix (d60) must describe the SAME cluster structure as
    * the clustering gate (d9), so all three build from here — and their
    * oracles from [[leakageAugSql]] — instead of keeping three copies
    * of the plant + LSH parameters in sync by hand. */
  private def leakageClusters(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val p1 = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zzz extra suffix")).as("text"))
    val p2 = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat(col("text"), lit(" zzz more suffix")).as("text"))
    val aug = docs.unionAll(p1).unionAll(p2)
    val clusters = ops.Dedup.connectedComponents(
      ops.Dedup.minhashLshPairs(aug, "doc_id", "text",
        k = 12, bands = 6, shingleSize = 3, tau = 0.5))
    (aug, clusters)
  }

  /** [[leakageClusters]]' aug corpus as oracle SQL (doc_id, text). */
  private val leakageAugSql: String =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' zzz extra suffix' AS text
      |  FROM documents WHERE doc_id % 50 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text || ' zzz more suffix' AS text
      |  FROM documents WHERE doc_id % 50 = 0""".stripMargin

  /** Stage `df` as `n` contiguous id-range parquet FILES with strictly
    * increasing mtimes under `tmp/in`, so FileStreamSource (which
    * orders files by modification time) delivers micro-batches in id
    * order — the arrival contract every streaming-fold gate documents.
    * One fixture builder for s30/s33/s34/s35 so a change to the
    * staging (mtime base, shard count, empty-range handling) cannot
    * silently give the gates different arrival orders. Returns the
    * input dir to readStream from. */
  private def writeMtimeOrderedShards(df: DataFrame, idCol: String,
      tmp: String, n: Int = 4): String = {
    val maxId = df.agg(max(idCol)).head.getLong(0)
    val per = maxId / n + 1
    val inDir = java.nio.file.Paths.get(tmp, "in")
    java.nio.file.Files.createDirectories(inDir)
    (0 until n).foreach { i =>
      val shardTmp = s"$tmp/shard$i"
      df.filter(col(idCol) >= i * per && col(idCol) < (i + 1) * per)
        .coalesce(1).write.parquet(shardTmp)
      val part = new java.io.File(shardTmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = inDir.resolve(f"shard-$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          1700000000000L + i * 60000L))
    }
    inDir.toString
  }

  /** Normalize the events `ts` column to TIMESTAMP across fixture
    * vintages. A TIMESTAMP(NANOS) fixture arrives as LongType (under
    * `nanosAsLong`) and is floor-divided to microseconds — the same
    * truncation DuckDB applies (its timestamps are µs-precision). A
    * plain-µs fixture arrives as TIMESTAMP_NTZ (Spark 4 infers NTZ for
    * non-UTC-adjusted parquet timestamps) and is cast directly — every
    * graft session pins spark.sql.session.timeZone=UTC, so the cast
    * preserves the wall-clock µs value DuckDB sees. */
  private[graft] def normEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df // already TIMESTAMP
    }

  /** events.parquet, `ts` normalized per [[normEventTs]]. The
    * nanosAsLong conf must be set BEFORE the read so a nanos-vintage
    * fixture loads at all (without it Spark 4 rejects the file). */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normEventTs(t(s, dir, "events"))
  }

  /** File-stream over the events table with the same ts normalization
    * as [[events]] — the batch-read schema is exactly what readStream
    * loads, so the dispatch sees the same dataType either vintage. */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    normEventTs(s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Stateful streaming creates and commits a state store PER shuffle
    * partition per stateful operator — run the streaming gates narrow
    * (4 partitions of state machinery instead of 32), restoring the
    * session conf afterwards. Results are partition-count-invariant. */
  private def withNarrowState[T](s: SparkSession)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Bound a grow-only state fold's partition count before pinning it:
    * `state = state.unionAll(delta).ckpt` chains otherwise ACCUMULATE
    * partitions every micro-batch (union = sum of parents), and each
    * eager checkpoint re-materializes all of them as tasks — quadratic
    * task volume over a stream's life (s37 measured 4048 tasks for
    * ~190 admitted rows). Coalesce to the session's configured shuffle
    * parallelism: scale-adaptive (conf-driven, no local[32] constant),
    * no shuffle (narrow), and a no-op when the frame is already at or
    * below it. */
  private def foldBound(s: SparkSession, df: DataFrame): DataFrame =
    df.coalesce(
      math.max(1, s.conf.get("spark.sql.shuffle.partitions").toInt))

  /** Shared micro-batch machinery for the memory-sink streaming gates:
    * narrow state partitions, a unique sink name, and the
    * self-terminating `Trigger.AvailableNow` (processes everything
    * available, then stops — no polling loop). Returns the sink table.
    * Bounded inputs make results trigger-invariant, so this changes
    * only the lifecycle cost, not any gate's rows. */
  private def streamToTable(s: SparkSession, df: DataFrame, tag: String,
      mode: String): DataFrame = {
    val sinkName = s"graft_${tag}_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    withNarrowState(s) {
      val q = df.writeStream.format("memory").queryName(sinkName)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode(mode).start()
      try q.awaitTermination() finally q.stop()
    }
    s.table(sinkName)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  /** d23 fixture suffixes, codepoint-pinned via ASCII escapes and
    * shared verbatim by the Spark query and the DuckDB oracle: mode 0
    * is a combining sequence (NFC composes it), mode 1 is precomposed
    * (NFC fixed point), mode 2 has the U+212B angstrom NFC singleton
    * and a double combining stack (e+U+0323+U+0302 -> U+1EC7). */
  private val normSfx0 = " Cafe\u0301 du monde"
  private val normSfx1 = " d\u00e9j\u00e0 vu \u1ec7 voil\u00e0"
  private val normSfx2 = " \u212bngstr\u00f6m e\u0323\u0302"
  private val normSfx3 = " plain ascii"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- A1/A2 aggregation (TPC-H Q1 shape) --------------------------
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- J1-style joins: fact ⋈ dims, dims broadcast -----------------
    "q2_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      orders
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("r_name")
    }),

    // ---- X1 symmetric set difference (except, DISTINCT semantics) ----
    "q3_except" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      o.except(o.filter(col("o_orderkey") % 10 < 8))
        .orderBy("o_orderkey")
    }),

    // ---- P7/A2 duplicate-key detection -------------------------------
    "q4_dupkeys" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .orderBy("o_custkey")
    }),

    // ---- P3 synthesized md5 row key ----------------------------------
    "q5_key_md5" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          md5(concat_ws("|",
            col("c_custkey").cast("string"),
            col("c_name"),
            col("c_mktsegment"))).as("row_key"))
        .orderBy("c_custkey")
    }),

    // ---- The diff engine end-to-end (keyed compare of perturbed orders)
    "q6_diff" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val actual = orders
        .filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 89 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      val result = new DatasetComparator(orders, actual,
        DiffOptions(keys = Seq("o_orderkey"))).compare()
      result.resultDF.get
        .select(
          col("expected_o_orderkey"), col("actual_o_orderkey"),
          col("expected_o_totalprice"), col("actual_o_totalprice"),
          concat_ws(",", col("errCol")).as("err"))
        .orderBy("expected_o_orderkey")
    }),

    // ---- the diff engine over a NESTED schema: struct field + array
    // position perturbations attributed to flattened column paths in
    // errCol (reverse canonical order, reference golden semantics) ------
    "q45_diff_nested" -> ((s, dir) => {
      def nested(src: DataFrame) = src.select(
        col("p_partkey"),
        struct(col("p_brand").as("brand"), col("p_type").as("type")).as("info"),
        array(col("p_size"), col("p_size") + 1).as("sizes"))
      val p = t(s, dir, "part")
      val ref = nested(p)
      val act = nested(p).filter(col("p_partkey") % 97 =!= 0)
        .select(col("p_partkey"),
          struct(
            when(col("p_partkey") % 89 === 0, concat(col("info.brand"), lit("X")))
              .otherwise(col("info.brand")).as("brand"),
            col("info.type").as("type")).as("info"),
          array(element_at(col("sizes"), 1),
            when(col("p_partkey") % 83 === 0, element_at(col("sizes"), 1) + 100)
              .otherwise(element_at(col("sizes"), 2))).as("sizes"))
      val result = new DatasetComparator(ref, act,
        DiffOptions(keys = Seq("p_partkey"))).compare()
      result.resultDF.get.select(
          col("expected_p_partkey"), col("actual_p_partkey"),
          col("expected_info").getField("brand").as("expected_brand"),
          col("actual_info").getField("brand").as("actual_brand"),
          element_at(col("expected_sizes"), 2).as("expected_sizes_1"),
          element_at(col("actual_sizes"), 2).as("actual_sizes_1"),
          concat_ws(",", col("errCol")).as("err"))
        .orderBy("expected_p_partkey")
    }),

    // ---- map-typed diff: map columns are canonicalized to key-sorted
    // entry arrays before compare (Spark defines no map ordering, so raw
    // maps break except/<=>/joins — the reference inherits the failure;
    // here they're first-class). Insertion order deliberately differs
    // from key order so the gate proves the canonicalization ------------
    "q63_diff_map" -> ((s, dir) => {
      def withMap(src: DataFrame) = src.select(
        col("o_orderkey"),
        map(lit("stat"), col("o_orderstatus"),
            lit("prio"), col("o_orderpriority")).as("attrs"))
      val o = t(s, dir, "orders")
      val ref = withMap(o)
      val act = withMap(o.withColumn("o_orderpriority",
        when(col("o_orderkey") % 97 === 0, concat(col("o_orderpriority"), lit("_X")))
          .otherwise(col("o_orderpriority"))))
      val result = new graft.diff.DatasetComparator(ref, act,
        graft.diff.DiffOptions(keys = Seq("o_orderkey"))).compare()
      def rendered(side: String) = concat_ws(",", transform(col(s"${side}_attrs"),
        e => concat(e.getField("key"), lit("="), e.getField("value"))))
      result.resultDF.get.select(
          col("expected_o_orderkey").as("okey"),
          rendered("expected").as("exp_attrs"),
          rendered("actual").as("act_attrs"),
          concat_ws("|", col("errCol")).as("errs"))
        .orderBy("okey")
    }),

    // ---- the FULL CLI job path: write inputs → DatasetComparisonJob
    // .main (arg parsing, source load, compare, diff + _METRICS sink,
    // exit-by-exception) → read the written diff back as the gate -------
    "q46_cli_job" -> ((s, dir) => {
      val tmp = gateScratch("cli")
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      o.write.parquet(s"$tmp/ref")
      o.filter(col("o_orderkey") % 53 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 59 === 0, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
        .write.parquet(s"$tmp/act")
      try {
        cli.DatasetComparisonJob.main(Array(
          "--format", "parquet",
          "--ref-path", s"$tmp/ref", "--new-path", s"$tmp/act",
          "--out-path", s"$tmp/out", "--keys", "o_orderkey"))
      } catch {
        // differing datasets exit by exception BY CONTRACT (reference
        // semantics) — the diff and _METRICS are already on disk
        case _: graft.diff.DatasetsDifferException => ()
      }
      s.read.parquet(s"$tmp/out")
        .select(col("expected_o_orderkey"), col("actual_o_orderkey"),
          col("expected_o_totalprice"), col("actual_o_totalprice"),
          concat_ws(",", col("errCol")).as("err"))
        .orderBy("expected_o_orderkey")
    }),

    // ---- F1/F2 flattening (struct + positional array expansion) ------
    "q7_flatten" -> ((s, dir) => {
      val nested = t(s, dir, "part").select(
        col("p_partkey"),
        struct(col("p_brand").as("brand"), col("p_type").as("type")).as("info"),
        array(col("p_size"), col("p_size") + 1).as("sizes"))
      Flattener.flattenDataFrame(nested).orderBy("p_partkey")
    }),

    // ---- P1 canonical selector + pushed-down filter -------------------
    "q8_selector" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select(SchemaUtils.dataFrameSelector(li.schema): _*)
        .filter(col("l_quantity") <= 2 && col("l_returnflag") === "R")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- Time-bucketed aggregation over events ------------------------
    "q9_events_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("total"))
        .orderBy("hour", "event_type")
    }),

    // ---- Window function: top event per user by value -----------------
    "q10_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "value")
        .orderBy("user_id")
    }),

    // ---- keyless diff (reference-parity except-based pipeline) --------
    // every changed row appears as TWO one-sided rows; errCol lists all
    // columns (reverse flat order)
    "q11_diff_keyless" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val actual = nation
        .withColumn("n_name",
          when(col("n_nationkey") % 7 === 0, concat(col("n_name"), lit("_X")))
            .otherwise(col("n_name")))
      val r = new diff.DatasetComparator(nation, actual,
        diff.DiffOptions()).compare()
      r.resultDF.get
        .select(
          col("expected_n_nationkey"), col("actual_n_nationkey"),
          col("expected_n_name"), col("actual_n_name"),
          concat_ws(",", col("errCol")).as("err"))
        .orderBy(col("expected_n_nationkey").asc_nulls_last,
          col("actual_n_nationkey").asc_nulls_last)
    }),

    // ---- provided-schema cherry-pick: differences outside the pinned
    // columns are invisible; result reported as a 1-row summary ---------
    "q12_diff_pinned_schema" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val orders = t(s, dir, "orders")
      val actual = orders.withColumn("o_orderpriority",
        when(col("o_orderkey") % 3 === 0, lit("9-CHANGED"))
          .otherwise(col("o_orderpriority")))
      val pinned = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType)))
      val r = new diff.DatasetComparator(orders, actual,
        diff.DiffOptions(keys = Seq("o_orderkey"), providedSchema = Some(pinned))).compare()
      import s.implicits._
      Seq((r.refRowCount, r.newRowCount, r.diffCount, r.passedCount))
        .toDF("ref_rows", "new_rows", "diff_rows", "passed_rows")
    }),

    // ---- fact-fact shuffle join + agg (TPC-H Q3/Q4 shape) -------------
    "q13_bigjoin" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"),
          date_trunc("month", col("o_orderdate")).as("month"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority", "month")
    }),

    // ---- distinct aggregation (expand-based plan) ---------------------
    "q14_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // ---- set ops beyond the reference surface: intersect + union ------
    "q15_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      val highValue = t(s, dir, "orders").filter(col("o_totalprice") > 100000.0)
        .select("o_orderkey", "o_orderstatus")
      val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderstatus")
      highValue.intersect(urgent)
        .union(o.filter(col("o_orderkey") % 1000 === 0))
        .distinct()
        .orderBy("o_orderkey")
    }),

    // ---- one-pass dataset profile (per-column nulls/distinct/extremes)
    "q16_profile" -> ((s, dir) => {
      ops.Profile.profile(t(s, dir, "orders")).orderBy("col_name")
    }),

    // ---- rollup (hierarchical subtotals + grand total) ----------------
    "q17_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_last,
          col("l_linestatus").asc_nulls_last)
    }),

    // ---- cube (all grouping-set combinations + grand total) -----------
    "q26_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_last,
          col("l_linestatus").asc_nulls_last)
    }),

    // ---- pivot via conditional aggregation ----------------------------
    "q18_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .orderBy("l_linestatus")
    }),

    // ---- as-of join: latest prior view attached to each purchase ------
    "q19_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "value")
      ops.AsOf.asOfJoin(purchases, views, "user_id", "ts", Seq("value"))
        // raw-timestamp columns hash differently across engines (ns vs
        // µs physical units) — emit epoch micros for the compare
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          unix_micros(col("asof_ts")).as("asof_ts_us"), col("asof_value"))
        .orderBy("user_id", "event_id")
    }),

    // ---- as-of join WITH TOLERANCE (pandas merge_asof tolerance):
    // q19's join, but a matched view older than 30 minutes is nulled as
    // if absent — the gap compares integer epoch-micros, never doubles,
    // so the boundary is engine-exact; the plan (one exchange) is
    // unchanged, the tolerance is a pure post-projection ----------------
    "q74_asof_tolerance" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "value")
      ops.AsOf.asOfJoin(purchases, views, "user_id", "ts", Seq("value"),
          withinGap = Some((l, r) =>
            unix_micros(l) - unix_micros(r) <= lit(1800L * 1000000L)))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          unix_micros(col("asof_ts")).as("asof_ts_us"), col("asof_value"))
        .orderBy("user_id", "event_id")
    }),

    // ---- forward as-of join: earliest subsequent view per purchase ----
    "q43_asof_forward" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "value")
      ops.AsOf.asOfJoin(purchases, views, "user_id", "ts", Seq("value"),
          direction = "forward")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          unix_micros(col("asof_ts")).as("asof_ts_us"), col("asof_value"))
        .orderBy("user_id", "event_id")
    }),

    // ---- trailing range-frame window (1h per-user rolling stats) ------
    "q20_range_window" -> ((s, dir) => {
      val frame = "OVER (PARTITION BY user_id ORDER BY ts " +
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("n_1h", expr(s"count(*) $frame"))
        .withColumn("sum_1h",
          expr(s"CAST(sum(CAST(value AS DECIMAL(18,3))) $frame AS DOUBLE)"))
        .select("user_id", "event_id", "n_1h", "sum_1h")
        .orderBy("user_id", "event_id")
    }),

    // ---- exact group percentiles (sort-based, no sketch) --------------
    "q21_percentile" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // ---- salted skew join: result must be row-identical to the plain
    // join, so the plain join's SQL is its oracle ------------------------
    "q24_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .withColumnRenamed("o_orderkey", "l_orderkey")
      ops.Skew.saltedJoin(li, o, "l_orderkey", factor = 4)
        .groupBy("o_orderpriority")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // ---- semi/anti joins: customers with and without orders -----------
    "q25_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_orders").as("kind"))
      val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("kind"))
      withOrders.unionAll(without).orderBy("c_custkey", "kind")
    }),

    // ---- batch sessionization: 30-min-gap sessions via lag + running
    // sum (two window passes over ONE per-user sort) --------------------
    "q23_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts")
      val gapMin = 30
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("new_session",
          when(col("ts").cast("long") -
            lag(col("ts"), 1).over(byUser).cast("long") > gapMin * 60, 1)
            .otherwise(lit(0)))
        .withColumn("session_id",
          sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("dur_s"))
        .orderBy("user_id", "session_id")
    }),

    // ---- composed funnel analysis: sessionize → per-session view/
    // purchase extremes → per-user conversion counts (one exchange for
    // the session windows, aggregates are tie-order-invariant) ----------
    "q44_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("tss", "event_id")
      val gapS = 30 * 60
      val sess = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("tss"))
        .withColumn("new_session",
          when(col("tss") - lag(col("tss"), 1).over(byUser) > gapS, 1)
            .otherwise(lit(0)))
        .withColumn("session_id",
          sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      sess.groupBy("user_id", "session_id")
        .agg(
          min(when(col("event_type") === "view", col("tss"))).as("first_view"),
          max(when(col("event_type") === "purchase", col("tss"))).as("last_purchase"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("first_view").isNotNull && col("last_purchase").isNotNull &&
              col("last_purchase") >= col("first_view"), 1L).otherwise(0L))
            .as("n_converted"))
        .orderBy("user_id")
    }),

    // ---- partitioned-parquet layout: write events partitioned by type,
    // read back with a partition filter (pruned scan — the 100 TB table
    // organization primitive) ------------------------------------------
    "q27_partitioned_scan" -> ((s, dir) => {
      val p = gateScratch("parts")
      events(s, dir).write.mode("overwrite").partitionBy("event_type").parquet(p)
      s.read.parquet(p)
        .filter(col("event_type") === "purchase")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("total"))
        .orderBy("hour")
    }),

    // ---- streaming dedup: duplicate every event, dropDuplicates on the
    // id inside the stream, aggregate in complete mode ------------------
    "s2_stream_dedup" -> ((s, dir) => {
      val doubled = eventStream(s, dir)
        .withColumn("graft_dup", explode(array(lit(1), lit(2))))
        .drop("graft_dup")
      val agg = doubled
        .dropDuplicates("event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
      streamToTable(s, agg, "s2", "complete").orderBy("event_type")
    }),

    // ---- WATERMARK-BOUNDED streaming dedup (Spark 4's
    // dropDuplicatesWithinWatermark): unlike s2's dropDuplicates —
    // whose key state lives forever — dedup state here EXPIRES with
    // the watermark, the production-viable form for unbounded streams.
    // Duplicates land in the same micro-batch (well inside the 2 h
    // horizon), so the appended output equals global distinct ----------
    "s15_stream_dedup_watermark" -> ((s, dir) => {
      val doubled = eventStream(s, dir)
        .withColumn("graft_dup", explode(array(lit(1), lit(2))))
        .drop("graft_dup")
      val deduped = doubled
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .select("event_id", "event_type", "value")
      streamToTable(s, deduped, "s15", "append")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("total"))
        .orderBy("event_type")
    }),

    // ---- Structured Streaming end-to-end: file-stream the events
    // table through a windowed aggregation into a memory sink; complete
    // mode needs no watermark closure, so the result equals the batch
    // aggregation and shares q9's oracle shape -------------------------
    "s1_stream_window" -> ((s, dir) => {
      // the file-stream source wants a directory: eventStream streams
      // the sf dir itself, glob-filtered down to the events table
      val stream = eventStream(s, dir)
      val agg = stream
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("total"))
      streamToTable(s, agg, "s1", "complete").orderBy("hour", "event_type")
    }),

    // ---- bucketed co-located join: both sides bucketed+sorted on the
    // join key, so the SortMergeJoin runs with NO exchange -------------
    "q22_bucketed_join" -> ((s, dir) => {
      // managed-table locations survive the (in-memory) catalog across
      // sessions — clear both catalog entry and physical path first
      graft.util.BenchProbe.time("q22_drop") {
        Seq("graft_li_bucketed", "graft_o_bucketed").foreach { tbl =>
          s.sql(s"DROP TABLE IF EXISTS $tbl")
          val p = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir") + "/" + tbl)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        }
      }
      // repartition on the bucket key BEFORE the bucketed write: Spark
      // emits one file per (task, bucket) pair, so an unpartitioned
      // write from 32 tasks sprays 32×8 small files per table; aligning
      // tasks with buckets (same Murmur3 hash both sides) writes exactly
      // one file per bucket — at 100 TB the difference between a usable
      // layout and a small-files explosion
      graft.util.BenchProbe.time("q22_write_li") {
        t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
          .repartition(8, col("l_orderkey"))
          .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("graft_li_bucketed")
      }
      graft.util.BenchProbe.time("q22_write_o") {
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
          .repartition(8, col("o_orderkey"))
          .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("graft_o_bucketed")
      }
      val li = s.table("graft_li_bucketed")
      val o = s.table("graft_o_bucketed")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }),

    // ---- grouped array aggregation: sorted distinct collections per
    // group (rendered as strings — array cells don't survive the
    // cross-engine hash compare) ----------------------------------------
    "q33_array_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
            .as("statuses"),
          countDistinct(col("o_orderstatus")).as("n_statuses"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // ---- schema-evolution read: two parquet generations (a column
    // added), merged into one schema with nulls for the old files ------
    "q32_merge_schema" -> ((s, dir) => {
      val p = gateScratch("evolve")
      val n = t(s, dir, "nation")
      n.select("n_nationkey", "n_name").write.parquet(s"$p/v1")
      n.select("n_nationkey", "n_name", "n_regionkey").write.parquet(s"$p/v2")
      s.read.option("mergeSchema", "true").parquet(s"$p/v1", s"$p/v2")
        .orderBy(col("n_nationkey"), col("n_regionkey").asc_nulls_last)
    }),

    // ---- JSON column plumbing: serialize rows to JSON strings, parse
    // them back with both the path accessor and the typed parser; the
    // oracle checks the recovered FIELDS (JSON text formatting is
    // engine-specific and never compared) -------------------------------
    "q31_json_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val payloadSchema = StructType(Seq(
        StructField("n_name", StringType), StructField("n_regionkey", LongType)))
      t(s, dir, "nation")
        .select(col("n_nationkey"),
          to_json(struct(col("n_name"), col("n_regionkey"))).as("payload"))
        .select(col("n_nationkey"),
          get_json_object(col("payload"), "$.n_name").as("name"),
          from_json(col("payload"), payloadSchema).getField("n_regionkey")
            .as("regionkey"))
        .orderBy("n_nationkey")
    }),

    // ---- window-function breadth: ntile, cume_dist, lead with full
    // tiebreaks (all exact: integer buckets, rational fractions) --------
    "q29_window_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_returnflag").orderBy("l_orderkey", "l_linenumber")
      t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 3)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          ntile(4).over(w).as("quartile"),
          cume_dist().over(w).as("cd"),
          lead(col("l_orderkey"), 1).over(w).as("next_key"))
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    }),

    // ---- edit-distance matching (integer levenshtein, engine-exact) ---
    "q30_editdist" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          levenshtein(col("c_name"), lit("Customer#000000042")).as("dist"))
        .filter(col("dist") <= 3)
        .orderBy("c_custkey")
    }),

    // ---- order-insensitive table digests: two tables compared by
    // exchanging one number each (the cheap pre-check before a diff) ----
    "q28_digest" -> ((s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      val o = t(s, dir, "orders")
      val perturbed = o.withColumn("o_orderstatus",
        when(col("o_orderkey") % 500 === 0, lit("X")).otherwise(col("o_orderstatus")))
      val same = o.filter(col("o_orderkey") % 2 === 0)
      // decimal(38) digests survive the cross-engine compare only as
      // plain-integer strings (pandas narrows DECIMAL to float64)
      def d(df: DataFrame, p: String) = ops.TableDigest.digest(df, cols)
        .select(col("n_rows").as(s"${p}_rows"),
          col("digest").cast("string").as(s"${p}_digest"))
      d(o, "a").crossJoin(d(perturbed, "b")).crossJoin(d(same.unionAll(
          o.filter(col("o_orderkey") % 2 =!= 0)), "c"))
        .withColumn("b_matches", col("a_digest") === col("b_digest"))
        .withColumn("c_matches", col("a_digest") === col("c_digest"))
    }),

    // ---- stream-stream inner join: purchases joined to same-user views
    // within ±1 hour, both sides arriving as streams --------------------
    "s3_stream_join" -> ((s, dir) => {
      def stream() = eventStream(s, dir)
      // user subset keeps join state small — the operator shape is the
      // same, the bench doesn't pay for 100× state
      val purchases = stream()
        .filter(col("event_type") === "purchase" && col("user_id") % 7 === 0)
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val views = stream()
        .filter(col("event_type") === "view" && col("user_id") % 7 === 0)
        .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "2 hours")
      val joined = purchases.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"))
      streamToTable(s, joined.select("user_id", "p_id", "v_id"), "s3", "append")
        .orderBy("user_id", "p_id", "v_id")
    }),

    // ---- CDC merge: apply a changeset (updates, deletes, inserts) to a
    // keyed snapshot in ONE full-outer join — the incremental-refresh
    // primitive for maintained tables ------------------------------------
    "q36_cdc_merge" -> ((s, dir) => {
      def o = t(s, dir, "orders")
      val snap = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
      val upd = o.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 10.0).as("o_totalprice"),
          lit(false).as("is_delete"))
      val dels = o.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          lit(true).as("is_delete"))
      val ins = o.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 10000000).as("o_orderkey"),
          lit("I").as("o_orderstatus"), lit(1.0).as("o_totalprice"),
          lit(false).as("is_delete"))
      ops.Merge.applyChanges(snap, upd.unionAll(dels).unionAll(ins), "o_orderkey")
        .orderBy("o_orderkey")
    }),

    // ---- hopping (overlapping) windows: 1-hour windows sliding every
    // 30 min, each event contributing to exactly two windows ------------
    "s5_stream_hopping" -> ((s, dir) => {
      val stream = eventStream(s, dir)
      val agg = stream
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("total"))
        .select(col("window.start").cast("long").as("win_s"),
          col("event_type"), col("n"), col("total"))
      streamToTable(s, agg, "s5", "complete").orderBy("win_s", "event_type")
    }),

    // ---- custom streaming state: flatMapGroupsWithState sessionization.
    // Only CLOSED sessions (a later event arrived > 30 min after the
    // last) are emitted, so the output is deterministic without any
    // timeout machinery: it equals the batch sessionization minus each
    // user's final session. Counts and boundary times are emitted (the
    // in-state double sum is order-sensitive and stays spec-only) -------
    "s4_stream_session" -> ((s, dir) => {
      import s.implicits._
      val stream = eventStream(s, dir)
        .select(col("user_id").cast("long"), col("ts"), col("value").cast("double"))
        .as[(Long, java.sql.Timestamp, Double)]
      val sessions = streaming.EventStreams.sessionize(stream, gapMs = 1800000L)
        .toDF()
        .select(col("userId").as("user_id"), col("nEvents").as("n_events"),
          unix_millis(col("startTs")).as("start_ms"),
          unix_millis(col("endTs")).as("end_ms"))
      streamToTable(s, sessions, "s4", "append").orderBy("user_id", "start_ms")
    }),

    // ---- point-in-interval range join: views landing inside a 30-min
    // window after each purchase, via the bucketed equi-join (no
    // broadcast nested loop, no per-key row explosion) ------------------
    "q34_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("v_id"),
          col("ts").cast("long").as("v_ts"))
      val purchases = ev
        .filter(col("event_type") === "purchase" && col("user_id") % 5 === 0)
        .select(col("user_id"), col("event_id").as("p_id"),
          col("ts").cast("long").as("p_start"))
        .withColumn("p_end", col("p_start") + 1800)
      ops.RangeJoin.pointInInterval(views, "v_ts",
          purchases, "p_start", "p_end", "user_id", bucketWidth = 1800L)
        .select("user_id", "p_id", "v_id", "v_ts")
        .orderBy("user_id", "p_id", "v_id")
    }),

    // ---- z-order (Morton) clustering values: the two-dimensional file
    // layout key; codegen'd shift/mask chain, exact in any engine -------
    "q35_zorder" -> ((s, dir) => {
      events(s, dir)
        .select(col("event_id"),
          ops.Layout.zorderValue(
            pmod(col("user_id"), lit(1024)),
            pmod(col("event_id"), lit(1024)), bits = 10).as("zval"))
        .orderBy("zval", "event_id")
    }),

    // ================== §7 extensions: training-data ops ==============

    // ---- fixed-window token chunking with overlap (size 50, stride 40)
    "d13_chunk" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      ops.CorpusOps.chunk(docs, "doc_id", "text", size = 50, stride = 40)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("n_chunk_tokens").cast("long").as("n_chunk_tokens"),
          col("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    }),

    // ---- PII redaction over a corpus seeded with synthetic PII --------
    "d14_redact" -> ((s, dir) => {
      import graft.functions.TextFunctions.redact
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            lit(" Contact: user"), col("doc_id"), lit("@example.com"),
            lit(" or call +1 555 000 "), pmod(col("doc_id"), lit(10000)),
            lit(" ref "), col("doc_id") + 7100000).as("seeded"))
        .select(col("doc_id"), redact(col("seeded")).as("redacted"))
        .orderBy("doc_id")
    }),

    // ---- fixed-size deterministic per-group sample (5 docs per lang) --
    "d15_group_sample" -> ((s, dir) => {
      ops.CorpusOps.groupSample(t(s, dir, "documents"), "doc_id", "lang", n = 5)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    }),

    // ---- fixed-point TF-IDF (integer-scaled smoothed idf surrogate —
    // the oracle-exact variant; the ln-based tfIdf is spec-verified) ----
    "d16_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      ops.CorpusOps.tfIdfScaled(docs, "doc_id", "text")
        .orderBy("doc", "token")
    }),


    // ---- content-defined chunking: rolling-shingle-hash boundaries
    // (FastCDC applied to token streams) — edit-robust chunk dedup ------
    "d37_cdc_chunks" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
      ops.CorpusOps.cdcChunks(docs, "doc_id", "text")
        .orderBy("doc", "chunk_idx")
    }),

    // ---- END-TO-END training-data pipeline: language filter → learned
    // quality filter (d35 model) → exact dedup (min-id reps) → content-
    // defined chunking, composed as ONE declarative plan — the shape a
    // production corpus build actually ships, with every stage an
    // operator this library provides ------------------------------------
    "d38_training_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("lang") === "en")
      val model = s.range(64).select(col("id").as("bucket"),
        (pmod(col("id"), lit(7)) - 3).as("weight"))
      val kept = ops.CorpusOps.scoreLinear(docs, "doc_id", "text", model, dim = 64)
        .filter(col("score") >= 0).select(col("doc").as("doc_id"))
      val candidates = docs.join(kept, Seq("doc_id"))
      val reps = ops.Dedup.exact(candidates, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val survivors = candidates.join(reps, Seq("doc_id"))
      ops.CorpusOps.cdcChunks(survivors, "doc_id", "text")
        .groupBy("doc")
        .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("n_tokens"))
        .orderBy("doc")
    }),

    // ---- STREAMING incremental dedup: the streaming batch anti-joined
    // against a STATIC fingerprint index (stream-static left_anti — the
    // continuous-ingest counterpart of d36), surviving fingerprints
    // aggregated in complete mode ---------------------------------------
    "s10_stream_incr_dedup" -> ((s, dir) => {
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val known = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
        .select(graft.functions.TextFunctions.fingerprint(col("text"))
          .as("fingerprint")).distinct()
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .withColumn("fingerprint",
          graft.functions.TextFunctions.fingerprint(col("text")))
      // complete-mode per-fingerprint aggregate (not dropDuplicates —
      // min(doc_id) is deterministic under any batch arrival order); a
      // production stream would bound dedup state with a watermark as
      // in EventStreams.dedupStream
      val fresh = stream
        .join(known, Seq("fingerprint"), "left_anti")
        .groupBy("fingerprint")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      streamToTable(s, fresh, "s10", "complete").orderBy("fingerprint")
    }),

    // ---- incremental dedup: a new batch against yesterday's corpus
    // INDEX (fingerprints only — archived text never moves). Known =
    // docs divisible by 3; incoming = the full table; survivors are
    // min-id reps of fingerprints unseen in the index -------------------
    "d36_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val known = docs.filter(col("doc_id") % 3 === 0)
        .select(graft.functions.TextFunctions.fingerprint(col("text"))
          .as("fingerprint"))
      ops.Dedup.exactIncremental(docs, "doc_id", "text", known)
        .orderBy("fingerprint")
    }),

    // ---- incremental NEAR-dup admission: a new batch probed against a
    // static LSH index of the corpus (fingerprints + band buckets +
    // shingle-hash sets — corpus text never moves). Suffix-perturbed
    // near-dups and exact copies are rejected; reversed-text docs are
    // genuinely fresh content and survive --------------------------------
    "d43_neardup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val near = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zzz extra suffix")).as("text"))
      val copies = docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
      val freshDocs = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 4000000).as("doc_id"),
          reverse(col("text")).as("text"))
      val idx = ops.Dedup.nearDupIndex(docs, "doc_id", "text",
        k = 12, bands = 6, shingleSize = 3)
      ops.Dedup.nearDupFilter(idx, near.unionAll(copies).unionAll(freshDocs),
          "doc_id", "text", tau = 0.5)
        .orderBy("doc_id")
    }),

    // ---- PERSISTED LSH index admission: d43's scenario with the index
    // round-tripped through disk (K1 parquet tables + params), proving
    // the production cross-job shape — yesterday's corpus is its saved
    // index, today's session loads it cold and filters a batch without
    // the corpus ever being re-read. Same oracle as d43: the reloaded
    // index must admit exactly what the in-session index admits ---------
    "d47_neardup_persisted" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val near = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zzz extra suffix")).as("text"))
      val copies = docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
      val freshDocs = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 4000000).as("doc_id"),
          reverse(col("text")).as("text"))
      val path = s"${gateScratch("d47")}/index"
      ops.Dedup.NearDupIndex.save(
        ops.Dedup.nearDupIndex(docs, "doc_id", "text",
          k = 12, bands = 6, shingleSize = 3), path)
      val loaded = ops.Dedup.NearDupIndex.load(path)
      ops.Dedup.nearDupFilter(loaded, near.unionAll(copies).unionAll(freshDocs),
          "doc_id", "text", tau = 0.5)
        .orderBy("doc_id")
    }),

    // ---- index EXTENSION across admission rounds: day-1 survivors fold
    // into the index (extend → save → load), and day 2 probes content
    // only the GROWN index can reject — near-dups and exact copies of
    // day-1 admissions bounce, fresh rows land. The oracle replays
    // admission against a rebuilt corpus ∪ day-1 index: extend must be
    // indistinguishable from a full rebuild (cap-cold equality) ---------
    "d48_neardup_extend" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents").select("doc_id", "text")
      // day 1: reversed text is genuinely fresh — admitted in full (d43)
      val batch1 = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 4000000).as("doc_id"),
          reverse(col("text")).as("text"))
      val idx = ops.Dedup.nearDupIndex(docs, "doc_id", "text",
        k = 12, bands = 6, shingleSize = 3)
      val admitted1 = ops.Dedup.nearDupFilter(idx, batch1,
        "doc_id", "text", tau = 0.5)
      val path = s"${gateScratch("d48")}/index"
      ops.Dedup.NearDupIndex.save(
        ops.Dedup.NearDupIndex.extend(idx, admitted1, "doc_id", "text"), path)
      val idx2 = ops.Dedup.NearDupIndex.load(path)
      val near2 = batch1.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zzz extra suffix")).as("text"))
      val copies2 = batch1.select((col("doc_id") + 2000000).as("doc_id"),
        col("text"))
      val fresh2 = docs.filter(col("doc_id") % 10 === 6)
        .select((col("doc_id") + 7000000).as("doc_id"),
          reverse(col("text")).as("text"))
      ops.Dedup.nearDupFilter(idx2, near2.unionAll(copies2).unionAll(fresh2),
          "doc_id", "text", tau = 0.5)
        .orderBy("doc_id")
    }),

    // ---- the FULL cross-session text-index lifecycle (the LSH sibling
    // of e30): build → save → load → day-1 admission → extend →
    // TAKEDOWN (remove every exact-dup group whose representative id
    // % 9 == 4 — the right-to-be-forgotten leg) → re-publish to the
    // SAME path → cold reload → day-2 admission. Day 2 observes the
    // removal: exact copies of removed content RE-ADMIT (fingerprints
    // and band rows gone), while copies of day-1 admissions and
    // near-dups of surviving content still bounce. Oracle = one
    // admission replay against the surviving corpus ∪ day-1 batch —
    // remove must be indistinguishable from a rebuild over survivors --
    "d63_neardup_maintenance_cycle" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val batch1 = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 4000000).as("doc_id"),
          reverse(col("text")).as("text"))
      val path = s"${gateScratch("d63")}/index"
      ops.Dedup.NearDupIndex.save(
        ops.Dedup.nearDupIndex(docs, "doc_id", "text",
          k = 12, bands = 6, shingleSize = 3), path)
      val day1 = ops.Dedup.NearDupIndex.load(path)
      val admitted1 = ops.Dedup.nearDupFilter(day1, batch1,
        "doc_id", "text", tau = 0.5)
      // takedown set: whole exact-dup groups (closure precondition) —
      // every carrier of a text whose group representative id % 9 == 4
      val fpc = graft.functions.TextFunctions.fingerprint(col("text"))
      val reps = docs.groupBy(fpc.as("graft_fp")).agg(min("doc_id").as("graft_rep"))
      val removedDocs = docs.withColumn("graft_fp", fpc)
        .join(reps, Seq("graft_fp"))
        .filter(col("graft_rep") % 9 === 4)
        .select("doc_id", "text")
      val shrunk = ops.Dedup.NearDupIndex.remove(
        ops.Dedup.NearDupIndex.extend(day1, admitted1, "doc_id", "text"),
        removedDocs, "doc_id", "text")
      ops.Dedup.NearDupIndex.save(shrunk, path) // re-publish, same path
      val day2 = ops.Dedup.NearDupIndex.load(path)
      val readmit = removedDocs
        .select((col("doc_id") + 8000000).as("doc_id"), col("text"))
      val copies2 = batch1
        .select((col("doc_id") + 5000000).as("doc_id"), col("text"))
      val near2 = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zzz extra suffix")).as("text"))
      val fresh2 = docs.filter(col("doc_id") % 10 === 6)
        .select((col("doc_id") + 7000000).as("doc_id"),
          reverse(col("text")).as("text"))
      ops.Dedup.nearDupFilter(day2,
          readmit.unionAll(copies2).unionAll(near2).unionAll(fresh2),
          "doc_id", "text", tau = 0.5)
        .orderBy("doc_id")
    }),

    // ---- model-based quality filtering: hashed bag-of-words linear
    // classifier (fastText-shaped corpus filter); deterministic integer
    // weights make the scores engine-exact ------------------------------
    "d35_quality_model" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      val model = s.range(64).select(col("id").as("bucket"),
        (pmod(col("id"), lit(7)) - 3).as("weight"))
      ops.CorpusOps.scoreLinear(docs, "doc_id", "text", model, dim = 64)
        .withColumn("kept", col("score") >= 0)
        .orderBy("doc")
    }),

    // ---- float (ln-based) TF-IDF. Raw ln floats are not bit-portable
    // across engines (documented at CorpusOps.tfIdf; d16 hash-checks the
    // fixed-point variant), so the GATE rounds to 4 decimals: both
    // engines' ln agree to ≤1 ulp and both round-half-away-from-zero to
    // the nearest double of the same decimal, making the hash compare
    // exact in practice (a disagreement needs the true value within 1
    // ulp of a 1e-4 boundary, ~1e-9 per row). Library output (tfIdf
    // itself) keeps full precision — rounding is gate-only -------------
    "d34_tfidf_float" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      ops.CorpusOps.tfIdf(docs, "doc_id", "text")
        .select(col("doc"), col("token"), round(col("tf_idf"), 4).as("tf_idf_r4"))
        .orderBy("doc", "token")
    }),

    // ---- REAL BPE vocabulary learning: the iterative pair-merge loop
    // (count pairs → merge argmax everywhere → repeat), distributed as
    // one vocab-sized aggregate per round; step 7 at sf0.01 merges a
    // MERGED symbol (m + er), pinning the fixpoint behavior ------------
    "d39_bpe_merges" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      ops.CorpusOps.bpeLearn(docs, "text", merges = 8)
        .orderBy("step")
    }),

    // ---- exact dedup by normalized-text fingerprint -------------------
    "d1_dedup_exact" -> ((s, dir) => {
      ops.Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("fingerprint")
    }),

    // ---- composed cleaning pipeline: language filter → quality filter
    // → exact dedup, in one declarative plan (filters fuse into the
    // scan stage; only the dedup groupBy shuffles) ----------------------
    "d12_clean_corpus" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val filtered = t(s, dir, "documents")
        .filter(langId(col("text")) === "en" &&
          qualityScore(col("text")) >= lit(0.5))
      ops.Dedup.exact(filtered, "doc_id", "text").orderBy("fingerprint")
    }),

    // ---- text analysis: token counts, ratios, quality score -----------
    "d2_text_stats" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      t(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe"),
        punctRatio(col("text")).as("punct_ratio"),
        qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // ---- heuristic language identification ----------------------------
    "d3_langid" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      t(s, dir, "documents")
        .select(col("doc_id"), langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // ---- minhash signatures (portable XOR-mix family) -----------------
    "d4_minhash_sig" -> ((s, dir) => {
      val sig = ops.Dedup.minhashSignature(col("text"), 4, 3)
      t(s, dir, "documents")
        .select(col("doc_id"), sig.as("sig"))
        .select(col("doc_id"),
          element_at(col("sig"), 1).as("sig_0"),
          element_at(col("sig"), 2).as("sig_1"),
          element_at(col("sig"), 3).as("sig_2"),
          element_at(col("sig"), 4).as("sig_3"))
        .orderBy("doc_id")
    }),

    // ---- 60-bit simhash via the custom Catalyst expression ------------
    "d5_simhash" -> ((s, dir) => {
      import graft.functions.TextFunctions.tokens
      t(s, dir, "documents")
        .select(col("doc_id"), graft.functions.simhash60(tokens(col("text"))).as("sim"))
        .orderBy("doc_id")
    }),

    // ---- full MinHash-LSH near-dup pipeline over augmented corpus -----
    "d6_lsh_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val perturbed = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zzz extra suffix")).as("text"))
      val aug = docs.unionAll(perturbed)
      ops.Dedup.minhashLshPairs(aug, "doc_id", "text",
          k = 12, bands = 6, shingleSize = 3, tau = 0.5)
        .orderBy("id1", "id2")
    }),

    // ---- EXACT all-pairs similarity join (prefix filtering): every
    // pair with shingle Jaccard >= tau, no recall loss — the
    // deterministic complement to d6's probabilistic LSH ----------------
    "d33_allpairs_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val perturbed = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zzz extra suffix")).as("text"))
      ops.Dedup.allPairsJaccard(docs.unionAll(perturbed), "doc_id", "text",
          shingleSize = 3, tau = 0.5)
        .orderBy("id1", "id2")
    }),

    // ---- EXACT directed containment join (excerpt/quote detection):
    // word-prefix excerpts score containment 1.0 in their source doc
    // while their symmetric Jaccard is far below any useful threshold —
    // the asymmetric dedup pass a corpus pipeline runs after d33 ---------
    "d42_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val excerpts = docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " ", -1), 1, 12)).as("text"))
      ops.Dedup.containmentPairs(docs.unionAll(excerpts), "doc_id", "text",
          shingleSize = 3, tau = 0.8)
        .orderBy("id1", "id2")
    }),

    // ---- policy-based near-dup collapse: LSH pairs → connected
    // components → keep the highest-quality member per cluster (ties →
    // min id) — the survivor rule a production crawl actually wants ------
    "d46_collapse_best" -> ((s, dir) => {
      import graft.functions.TextFunctions
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val perturbed = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zzz extra suffix")).as("text"))
      val aug = docs.unionAll(perturbed)
      val clusters = ops.Dedup.connectedComponents(
        ops.Dedup.minhashLshPairs(aug, "doc_id", "text",
          k = 12, bands = 6, shingleSize = 3, tau = 0.5))
      val scored = aug.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("q"))
      ops.Dedup.collapseClustersBest(scored, "doc_id", "q", clusters)
        .orderBy("cluster_rep")
    }),

    // ---- simhash near-dup pipeline over augmented corpus --------------
    "d7_simhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val perturbed = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text"))
      val aug = docs.unionAll(perturbed)
      ops.Dedup.simhashPairs(aug, "doc_id", "text", maxHamming = 3)
        .orderBy("id1", "id2")
    }),

    // ---- LSH scale guards under a pathological exact-dup cluster: 5000
    // verbatim copies of one doc collapse to ONE representative before
    // banding (candidates stay O(cluster), not O(cluster²)); oversized
    // buckets are dropped by the maxBucket cap -----------------------------
    "d8_lsh_dupcluster" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val d0 = docs.filter(col("doc_id") === 0)
      val clones = d0.crossJoin(s.range(5000).toDF("i"))
        .select((col("i") + 2000000).as("doc_id"), col("text"))
      val near = d0.select(lit(3000000L).as("doc_id"),
        concat(col("text"), lit(" zzz tail")).as("text"))
      val aug = docs.unionAll(clones).unionAll(near)
      ops.Dedup.minhashLshPairs(aug, "doc_id", "text",
          k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 50)
        .orderBy("id1", "id2")
    }),

    // ---- near-dup clustering end-game: LSH pairs → connected
    // components → canonical (min-id) representative per cluster -------
    "d9_dup_clusters" -> ((s, dir) => {
      leakageClusters(s, dir)._2.orderBy("node")
    }),

    // ---- split-LEAKAGE audit: near-dup clusters that STRADDLE the
    // deterministic train/val/test split — eval contamination from
    // WITHIN the corpus (d22/s31 only guard against the external
    // benchmark set). The id-hash split scatters planted near-dups
    // across splits, so any cluster with >1 distinct split is a leak;
    // reporting per CLUSTER is what lets a pipeline re-seat whole
    // clusters instead of dropping individual docs ----------------------
    "d59_split_leakage" -> ((s, dir) => {
      val (aug, clusters) = leakageClusters(s, dir)
      val split = ops.CorpusOps.deterministicSplit(
        aug.select("doc_id"), "doc_id")
      clusters.join(split.select(col("doc_id").as("node"), col("split")),
          Seq("node"))
        .groupBy("cluster_rep")
        .agg(countDistinct("split").as("n_splits"),
          count(lit(1)).as("n_docs"))
        .filter(col("n_splits") > 1)
        .orderBy("cluster_rep")
    }),

    // ---- split RE-SEATING: the fix for d59's finding — every doc
    // follows its cluster REPRESENTATIVE's split, so near-dup clusters
    // become split-pure (no train/test straddle) while singletons keep
    // their own assignment; deterministic, so the fixed split is as
    // replayable as the original --------------------------------------
    "d60_split_reseat" -> ((s, dir) => {
      val (aug, clusters) = leakageClusters(s, dir)
      val split = ops.CorpusOps.deterministicSplit(
          aug.select("doc_id"), "doc_id")
        .select("doc_id", "split")
      val reps = split.select(col("doc_id").as("cluster_rep"),
        col("split").as("rep_split"))
      split
        .join(clusters.withColumnRenamed("node", "doc_id"),
          Seq("doc_id"), "left")
        .join(reps, Seq("cluster_rep"), "left")
        .select(col("doc_id"),
          coalesce(col("rep_split"), col("split")).as("new_split"),
          (coalesce(col("rep_split"), col("split")) =!= col("split"))
            .as("reseated"))
        .withColumnRenamed("new_split", "split")
        .orderBy("doc_id")
    }),

    // ---- WebDataset-style blob-pack index: (shard, offset, length)
    // addresses for every sample of a packed multimodal shard — the
    // loader-side random access map, computed in the same one-shuffle
    // pass that ships each payload to its shard --------------------------
    "m18_pack_index" -> ((s, dir) => {
      val bin = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      ops.Multimodal.packIndex(bin, "doc_id", "payload", nShards = 4)
        .select("doc_id", "shard", "offset", "length")
        .orderBy("shard", "offset")
    }),

    // ---- corpus dedup end-game: exact-collapse → LSH pairs → connected
    // components → canonical survivors only (the composed pipeline a
    // training corpus actually ships through) ---------------------------
    "d17_dedup_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val p1 = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" zzz extra suffix")).as("text"))
      val p2 = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zzz more suffix")).as("text"))
      val aug = docs.unionAll(p1).unionAll(p2)
      ops.Dedup.dedupCorpus(aug, "doc_id", "text",
          k = 12, bands = 6, shingleSize = 3, tau = 0.5)
        .orderBy("doc_id")
    }),

    // ---- deterministic stratified sampling (reproducible splits) ------
    "d10_sample" -> ((s, dir) => {
      ops.CorpusOps.stratifiedSample(t(s, dir, "documents"),
          "doc_id", "lang", rates = Map("en" -> 20, "de" -> 10), defaultPercent = 5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // ---- quality-proportional thinning: each doc survives with
    // probability = its own quality score (Bernoulli(w) under the
    // replayable hash) — the per-doc generalization of d10's rates;
    // pure pushable filter, no shuffle ----------------------------------
    "d49_weighted_sample" -> ((s, dir) => {
      import graft.functions.TextFunctions
      val scored = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("w"))
      ops.CorpusOps.weightedSample(scored, "doc_id", "w")
        .orderBy("doc_id")
    }),

    // ---- Gopher document-quality rule battery: word-count bounds,
    // integer mean-word-length bounds, distinct-stopword minimum — one
    // verdict row per doc with per-rule booleans, fused into ONE
    // zero-shuffle projection -------------------------------------------
    "d50_gopher_rules" -> ((s, dir) => {
      ops.CorpusOps.gopherRules(t(s, dir, "documents"), "doc_id", "text",
          minWords = 40, maxWords = 100000, minMeanLen = 4, maxMeanLen = 10,
          stopwords = Seq("the", "a", "and", "of", "to"), minStopwords = 2)
        .orderBy("doc_id")
    }),

    // ---- global token vocabulary: top-k with doc frequencies ----------
    "d11_vocab" -> ((s, dir) => {
      ops.CorpusOps.vocabulary(t(s, dir, "documents"), "doc_id", "text", k = 50)
    }),

    // ---- template mining: trigrams on >= 3 distinct documents — the
    // support-thresholded candidate list boilerplate removal consumes --
    "d44_frequent_ngrams" -> ((s, dir) => {
      ops.CorpusOps.frequentNgrams(t(s, dir, "documents"), "doc_id", "text",
          n = 3, minDocFreq = 3)
        .orderBy("ngram")
    }),

    // ---- URL canonicalization dedup: messy crawl URLs (case, www,
    // default ports, tracking params, param order, fragments, trailing
    // slashes) synthesized deterministically from doc_id, collapsed to
    // one representative per canonical form -----------------------------
    "d45_url_dedup" -> ((s, dir) => {
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("http://"))
          .when(col("doc_id") % 3 === 1, lit("https://"))
          .otherwise(lit("HTTP://")),
        when(col("doc_id") % 4 === 0, lit("example.com"))
          .when(col("doc_id") % 4 === 1, lit("WWW.Example.com"))
          .when(col("doc_id") % 4 === 2, lit("Example.COM"))
          .otherwise(lit("www.example.com")),
        when(col("doc_id") % 6 === 0, lit(":80")).otherwise(lit("")),
        lit("/Articles/"), (col("doc_id") % 97).cast("string"),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("?utm_source=feed&b=2&a=1"))
          .otherwise(lit("?a=1&b=2")),
        when(col("doc_id") % 7 === 0, lit("#section3")).otherwise(lit("")))
      val urls = t(s, dir, "documents").select(col("doc_id"), url.as("url"))
      ops.Urls.urlDedup(urls, "doc_id", "url")
        .orderBy("canonical_url")
    }),

    // ---- IVF approximate nearest neighbors, deterministic seeded
    // variant (centroids = vectors of ids 0..7) so the full index →
    // probe → top-k path has an exact DuckDB oracle; the KMeans variant
    // is recall-tested in the spec ------------------------------------
    "e3_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", nlist = 8)
      val q = emb.filter(col("vec_id") === 1)
        .select(col("embedding").cast("array<double>")).collect()(0)
        .getAs[scala.collection.Seq[Double]](0).toArray
      idx.search(q, k = 10, nprobe = 4)
    }),

    // ---- multimodal: real payloads (ImageIO png/jpeg, RIFF wav) decoded
    // by real JDK codecs; lossless formats (png gray levels, wav PCM)
    // have exact formula oracles, jpeg pixel stats are lossy → nulled ----
    "m1_media_features" -> ((s, dir) => {
      val media = ops.Multimodal.syntheticMedia(
        t(s, dir, "documents").select("doc_id"), "doc_id")(s)
      ops.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("duration_ms"),
          when(col("format") === "jpeg", lit(null).cast("double"))
            .otherwise(col("mean_val")).as("mean_val"))
        .orderBy("media_id")
    }),

    // ---- multimodal resample: nearest-neighbor image resize to 8×8,
    // audio frame-sampled every 4th PCM sample (lossless paths exact) ---
    "m2_media_resample" -> ((s, dir) => {
      val media = ops.Multimodal.syntheticMedia(
        t(s, dir, "documents").select("doc_id"), "doc_id")(s)
      ops.Multimodal.resampleFeatures(media, 8, 8, 4).toDF()
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("duration_ms"),
          when(col("format") === "jpeg", lit(null).cast("double"))
            .otherwise(col("mean_val")).as("mean_val"))
        .orderBy("media_id")
    }),

    // ---- brute-force cosine top-k against one query vector ------------
    "e1_cos_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("q"))
      ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 20)
    }),

    // ---- embedding near-dup search: top-3 closest pairs per label -----
    // (the synthetic embeddings have no true near-dups — max intra-label
    // cosine ≈ 0.5 — so rank pairs instead of thresholding)
    "e2_cos_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = ops.Dedup.embeddingCosinePairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", tau = -1.0)
      val w = Window.partitionBy("block")
        .orderBy(col("cos").desc, col("id1"), col("id2"))
      pairs.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("block", "id1", "id2", "cos")
        .orderBy("block", "id1", "id2")
    }),

    // ---- coarse-to-fine rerank ANN: prefix-dimension dot scores every
    // corpus vector per panel query (16 of 64 dims = 4× cheaper), a
    // bounded heap keeps 20 candidates per query, full-dim cosine
    // reranks only those — the Matryoshka two-stage retrieval shape ----
    "e15_rerank_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val panel = emb.filter(col("vec_id") < 5)
      ops.Similarity.rerankTopK(emb, "vec_id", "embedding",
          panel, "vec_id", "embedding",
          prefixDim = 16, candidates = 20, k = 5)
        .orderBy("qid", "rank")
    }),

    // ---- hybrid retrieval: lexical token-set Jaccard top-20 + semantic
    // cosine top-20 per query (aligned doc_id/vec_id corpus), fused by
    // fixed-point reciprocal-rank fusion — the RAG-curation ranking pass.
    // Both retrievers share the broadcast-panel shape (vectors/token
    // sets never shuffle); the fusion itself only moves rank triples ----
    "e17_hybrid_rrf" -> ((s, dir) => {
      import graft.functions.TextFunctions
      val toksets = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"),
          array_distinct(TextFunctions.tokens(col("text"))).as("ts"))
      val lexPanel = broadcast(toksets.filter(col("id") < 5)
        .select(col("id").as("qid"), col("ts").as("qts")))
      val lexScores = toksets.crossJoin(lexPanel)
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          (size(array_intersect(col("ts"), col("qts"))).cast("double") /
            size(array_union(col("ts"), col("qts"))).cast("double")).as("score"))
        .filter(col("score") > 0)
      val lexRank = ops.TopK.perGroup(lexScores, Seq("qid"),
        Seq(col("score"), col("id")), 20)
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("id"),
          col("embedding").cast("array<double>").as("v"))
      val semPanel = broadcast(emb.filter(col("id") < 5)
        .select(col("id").as("qid"), col("v").as("qv")))
      val semScores = emb.crossJoin(semPanel)
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id"),
          ops.Similarity.cosine(col("v"), col("qv")).as("score"))
      val semRank = ops.TopK.perGroup(semScores, Seq("qid"),
        Seq(col("score"), col("id")), 20)
      ops.Similarity.rrfFuse(Seq(lexRank, semRank), "qid", "id", "rank", k = 10)
        .orderBy("qid", "rank")
    }),

    // ---- winnowing fingerprints (Schleimer et al., SIGMOD'03): minima
    // of a sliding window over positional shingle hashes — guarantees a
    // shared fingerprint for any shared run of k+w-1 tokens. One codegen'd
    // kernel pass + arrays-only window minima; zero shuffles -------------
    "d18_winnow" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      ops.CorpusOps.winnow(docs, "doc_id", "text", k = 5, w = 4)
        .orderBy("doc_id", "fp")
    }),

    // ---- blocked all-pairs n-gram Jaccard (bounded blocks; the LSH
    // path is the unblocked scale route) over a perturbed corpus --------
    "d19_jaccard_block" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select("doc_id", "lang", "text").filter(col("doc_id") % 10 === 0)
      val perturbed = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("lang"),
          concat(col("text"), lit(" zzz suffix")).as("text"))
      val aug = docs.unionAll(perturbed)
      ops.Dedup.jaccardPairsBlocked(aug, "doc_id", "text", "lang",
          shingleSize = 3, tau = 0.5)
        .orderBy("block", "id1", "id2")
    }),

    // ---- BM25 relevance weights (log-free idf surrogate — every step
    // IEEE double arithmetic, so the gate hash-compares exactly) --------
    "d20_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      ops.CorpusOps.bm25(docs, "doc_id", "text")
        .orderBy("doc", "token")
    }),

    // ---- SCD2 history build: attribute observations → validity
    // intervals; one key shuffle serves both window passes ---------------
    "q37_scd2" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("tss"), col("event_type"))
      ops.Merge.scd2(ev, "user_id", "tss", "event_id", Seq("event_type"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    }),

    // ---- interval-overlap join: purchase windows × view windows via the
    // bucketed equi-join, each pair claimed by its overlap-start bucket
    // (duplicate-free without a distinct) --------------------------------
    "q38_interval_overlap" -> ((s, dir) => {
      val ev = events(s, dir)
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("ts").cast("long").as("p_start"))
        .withColumn("p_end", col("p_start") + 1800)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("v_id"),
          col("ts").cast("long").as("v_start"))
        .withColumn("v_end", col("v_start") + 900)
      ops.RangeJoin.intervalOverlap(purch, "p_start", "p_end",
          views, "v_start", "v_end", "user_id", bucketWidth = 1800L)
        .select("user_id", "p_id", "v_id", "p_start", "v_start")
        .orderBy("user_id", "p_id", "v_id")
    }),

    // ---- stream-static join: the streaming fact enriched by a broadcast
    // dimension (stateless — no watermark, no state store), then a
    // complete-mode aggregate --------------------------------------------
    "s6_stream_static" -> ((s, dir) => {
      val stream = eventStream(s, dir)
        .withColumn("n_nationkey", pmod(col("user_id"), lit(25)).cast("long"))
      val dim = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name")))
      val agg = stream.join(dim, Seq("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("total"))
      streamToTable(s, agg, "s6", "complete").orderBy("n_name")
    }),

    // ---- hyperplane LSH bucket assignment: 12 signed md5-derived
    // projections, codegen'd dot products; bucket keys exactly replayable
    // in SQL (planes embedded as literals) -------------------------------
    "e4_hyperplane" -> ((s, dir) => {
      ops.Similarity.hyperplaneBuckets(t(s, dir, "embeddings"),
          "vec_id", "embedding", bits = 12, dim = 64)
        .select(col("id"), col("bucket"))
        .orderBy("id")
    }),

    // ---- explicit two-phase (salted) aggregation: partials on
    // (key, salt), exact decimal combine — row-identical to the direct
    // aggregate, which is exactly what the oracle computes ---------------
    "q39_two_phase_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_returnflag", "l_quantity")
      ops.Skew.twoPhaseAgg(li, "l_returnflag", 16,
          Seq(sum(col("l_quantity").cast("decimal(18,2)")).as("part_qty"),
            count(lit(1)).as("part_n")),
          pre => pre.groupBy("l_returnflag")
            .agg(sum("part_qty").cast("double").as("sum_qty"),
              sum("part_n").as("n_rows")))
        .orderBy("l_returnflag")
    }),

    // ---- streaming parquet sink: stream → append-mode file sink →
    // batch read-back → aggregate; closes the readStream → transforms →
    // writeStream → files loop with an exact oracle ----------------------
    "s7_stream_sink" -> ((s, dir) => {
      val out = gateScratch("s7")
      val stream = eventStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      withNarrowState(s) {
        val q = stream.writeStream.format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode("append").start()
        try q.awaitTermination() finally q.stop()
      }
      s.read.parquet(s"$out/data")
        .groupBy(pmod(col("user_id"), lit(100)).as("cohort"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("total"))
        .orderBy("cohort")
    }),

    // ---- int8 max-abs embedding quantization (element-wise output so
    // the cross-engine hash compare sees scalars, not arrays) ------------
    "e5_quantize" -> ((s, dir) => {
      ops.Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("id", "pos")
    }),

    // ---- bigram language-model table: P(w2|w1) over the corpus --------
    "d21_bigram_lm" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      ops.CorpusOps.bigramLm(docs, "doc_id", "text")
        .orderBy("w1", "w2")
    }),

    // ---- eval-set decontamination: fraction of each eval doc's winnow
    // fingerprints occurring anywhere in train (copied docs score 1.0) --
    "d22_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val train = docs.filter(col("doc_id") % 2 === 0)
      val copied = train.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 2 === 1).unionAll(copied)
      ops.CorpusOps.contamination(evalSet, train, "doc_id", "text", k = 5, w = 4)
        .orderBy("doc_id")
    }),

    // ---- one-pass data-quality rule engine: all rules fused into a
    // single aggregate over a single scan ---------------------------------
    "q42_quality_checks" -> ((s, dir) => {
      ops.Quality.checks(t(s, dir, "orders"), Seq(
        "orderkey_not_null" -> col("o_orderkey").isNotNull,
        "price_positive" -> (col("o_totalprice") > 0.0),
        "price_under_cap" -> (col("o_totalprice") <= lit(300000.0)),
        "key_not_div7" -> (col("o_orderkey") % 7 =!= 0)))
        .orderBy("rule")
    }),

    // ---- embedding near-dup pairs via hyperplane LSH buckets (the
    // unblocked scale path: candidates touch only colliding vectors) ----
    "e6_embedding_lsh" -> ((s, dir) => {
      ops.Dedup.embeddingLshPairs(t(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, bits = 6, tau = 0.2)
        .orderBy("id1", "id2")
    }),

    // ---- end-to-end SEMANTIC dedup: embedding-LSH near-dup pairs →
    // connected components → one canonical vector per cluster (the
    // embedding-space analogue of d17's text dedupCorpus) ---------------
    "e11_semantic_dedup" -> ((s, dir) => {
      // the full-width vector collapse runs ONCE (checkpoint barrier)
      // and serves both the pairs pipeline and the survivor base
      val collapsed = ops.Dedup.collapseVectors(
          t(s, dir, "embeddings"), "vec_id", "embedding")
        .ckpt
      val pairs = ops.Dedup.embeddingLshPairsFromCollapsed(collapsed,
        dim = 64, bits = 6, tau = 0.2, maxBucket = 1000)
      val dropped = ops.Dedup.connectedComponents(pairs)
        .filter(col("node") =!= col("cluster_rep"))
        .select(col("node").as("vec_id"))
      collapsed.select(col("id").as("vec_id"))
        .join(dropped, Seq("vec_id"), "left_anti")
        .orderBy("vec_id")
    }),

    // ---- incremental aggregate maintenance: stored state + signed
    // changeset, no base rescan; bit-identical to a full recompute ------
    "q40_incremental_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val base = o.filter(col("o_orderkey") % 97 =!= 0)
      val state = base.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
      val inserts = o.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderpriority"), col("o_totalprice"), lit(1L).as("sign"))
      val deletes = base.filter(col("o_orderkey") % 89 === 0)
        .select(col("o_orderpriority"), col("o_totalprice"), lit(-1L).as("sign"))
      ops.Merge.incrementalAgg(state, inserts.unionAll(deletes),
          "o_orderpriority", "o_totalprice", "sign")
        .select(col("o_orderpriority"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy("o_orderpriority")
    }),

    // ---- change-data feed: derive the I/U/D changeset between two
    // snapshots in one full-outer join (inverse of q36's applyChanges) --
    "q41_change_feed" -> ((s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
      val modified = o.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 5.0)
            .otherwise(col("o_totalprice")))
      val inserted = o.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 10000000).as("o_orderkey"),
          lit("N").as("o_orderstatus"), lit(2.0).as("o_totalprice"))
      ops.Merge.changeFeed(o, modified.unionAll(inserted), "o_orderkey")
        .orderBy("o_orderkey", "op")
    }),

    // ---- Unicode normalization: custom codegen'd kernel, byte-identical
    // to DuckDB/utf8proc nfc_normalize + strip_accents (documents are
    // pure ASCII, so the CASE suffix fully controls the non-ASCII
    // content under test: combining sequences, precomposed chars, the
    // U+212B angstrom NFC singleton) ------------------------------------
    "d23_normalize" -> ((s, dir) => {
      import graft.functions.normalizeText
      val suffix = when(col("doc_id") % 4 === 0, lit(normSfx0))
        .when(col("doc_id") % 4 === 1, lit(normSfx1))
        .when(col("doc_id") % 4 === 2, lit(normSfx2))
        .otherwise(lit(normSfx3))
      t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"), suffix).as("dec"))
        .select(col("doc_id"),
          normalizeText(col("dec"), "nfc").as("nfc"),
          normalizeText(col("dec"), "strip_accents").as("stripped"))
        .orderBy("doc_id")
    }),

    // ---- PageRank over the supplier–part bipartite graph: fixed-point
    // integer ranks (bit-identical under any partitioning), one
    // join+reduce per iteration, lineage truncated per iteration --------
    "g1_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey").cast("long") + 1000000L).as("dst"))
        .unionAll(li.select((col("l_partkey").cast("long") + 1000000L).as("src"),
          col("l_suppkey").cast("long").as("dst")))
      ops.Graph.pageRank(edges, "src", "dst", iterations = 5)
        .orderBy("node")
    }),

    // ---- personalized PageRank: teleport mass restarts ONLY into the
    // trusted seed suppliers (TrustRank) — same join+reduce rounds as
    // g1, personalization is a pure projection ---------------------------
    "g6_personalized_pagerank" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey").cast("long") + 1000000L).as("dst"))
        .unionAll(li.select((col("l_partkey").cast("long") + 1000000L).as("src"),
          col("l_suppkey").cast("long").as("dst")))
      ops.Graph.personalizedPageRank(edges, "src", "dst",
          isSeed = n => n < 1000000L && n % 10 === 0, iterations = 5)
        .orderBy("node")
    }),

    // ---- connected components in O(log² n) ROUNDS (large-star /
    // small-star): a deep path-shaped graph — orderkey chains spaced
    // by 3 inside 100-key blocks, cross-linked at +51 — where
    // label propagation would need diameter (~30) rounds and the
    // two-phase rewrite needs ~5 ---------------------------------------
    "g7_cc_twophase" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("o_orderkey div 100").cast("long").as("blk"))
      val a = o.select(col("k").as("src"), col("blk").as("sblk"))
      val b = o.select(col("k").as("dst"), col("blk").as("dblk"))
      val step = a.join(b,
          col("dst") === col("src") + 3 && col("sblk") === col("dblk"))
        .select("src", "dst")
      val link = a.filter(col("src") % 7 === 0).join(b,
          col("dst") === col("src") + 51 && col("sblk") === col("dblk"))
        .select("src", "dst")
      ops.Graph.connectedComponentsTwoPhase(step.unionAll(link), "src", "dst")
        .orderBy("node")
    }),

    // ---- HITS hubs/authorities over the DIRECTED supplier→part graph
    // (the textbook bipartite case: suppliers curate, parts are
    // curated): fixed-point integer power iteration, max-normalized
    // each half-round — bit-identical under any partitioning ------------
    "g8_hits" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey").cast("long") + 1000000L).as("dst"))
      ops.Graph.hits(edges, "src", "dst", iterations = 2)
        .orderBy("node")
    }),

    // ---- bipartite co-occurrence projection: part pairs weighted by
    // shared suppliers (co-citation construction), hub suppliers over
    // the degree cap dropped with an audit — pair shuffle bounded at
    // maxDeg·|E| ---------------------------------------------------------
    "g9_coproject" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_partkey") % 20 === 0)
        .select(col("l_suppkey").cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))
      val (pairs, _) = ops.Graph.cooccurrenceProject(edges, "src", "dst",
        minShared = 2L, maxDeg = 25L)
      pairs.select(col("a").as("part_a"), col("b").as("part_b"), col("shared"))
        .orderBy("part_a", "part_b")
    }),

    // ---- top-k per group WITHOUT a window sort: bounded-heap
    // TypedImperativeAggregate, map-side partial top-k ------------------
    "q47_topk" -> ((s, dir) => {
      ops.TopK.perGroup(t(s, dir, "orders"), Seq("o_orderpriority"),
          Seq(col("o_totalprice"), col("o_orderkey")), k = 3)
        .orderBy("o_orderpriority", "rank")
    }),

    // ---- unpivot/melt: wide metrics → long (metric, value) rows -------
    "q48_unpivot" -> ((s, dir) => {
      t(s, dir, "orders").groupBy("o_orderpriority").agg(
          count(lit(1)).cast("double").as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .unpivot(Array(col("o_orderpriority")),
          Array(col("n_orders"), col("total"), col("min_price"), col("max_price")),
          "metric", "value")
        .orderBy("o_orderpriority", "metric")
    }),

    // ---- equi-width histogram: integer fixed-point bin edges, empty
    // bins kept via the driver-side spine -------------------------------
    "q49_histogram" -> ((s, dir) => {
      ops.Profile.histogram(t(s, dir, "lineitem"), "l_extendedprice",
          lo = BigDecimal(900), hi = BigDecimal(105000), nbins = 24)
        .orderBy("bin")
    }),

    // ---- per-group histogram quantiles: p50/p95 price per returnflag
    // from the q49 integer-cent bins — percentile monitoring without a
    // per-group sort, ≤ groups × nbins rows on the wire -----------------
    "q76_histogram_quantiles" -> ((s, dir) => {
      ops.Profile.histogramQuantiles(t(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice",
          lo = BigDecimal(900), hi = BigDecimal(105000), nbins = 24,
          qsPermille = Seq(500, 950))
        .withColumnRenamed("grp", "l_returnflag")
        .orderBy("l_returnflag", "q")
    }),

    // ---- Bloom-pruned join: fact side filtered through a Bloom filter
    // of the selective dim's keys BEFORE the shuffle; row-identical to
    // the plain join (no false negatives; false positives die in the
    // real join), so the plain join IS the oracle -----------------------
    "q50_bloom_join" -> ((s, dir) => {
      val dim = t(s, dir, "orders")
        .filter(col("o_orderkey") % 19 === 0 && col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderstatus")
      ops.BloomPrune.prunedJoin(t(s, dir, "lineitem"), dim,
          "l_orderkey", "o_orderkey", expectedItems = 20000)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("o_orderstatus")
    }),

    // ---- cohort retention: users grouped by first-seen week, activity
    // counted by week offset — two aggregations over one events scan ----
    "q51_cohort" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("week"))
      val cohorts = e.groupBy("user_id").agg(min("week").as("cohort"))
      e.join(cohorts, "user_id")
        .groupBy(col("cohort"), (col("week") - col("cohort")).as("week_offset"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort", "week_offset")
    }),

    // ---- grouping sets: finer than cube/rollup — exactly the listed
    // aggregation levels, with grouping() disambiguating real nulls -----
    "q52_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus", "l_quantity")
        .createOrReplaceTempView("graft_li_gs")
      s.sql("""SELECT l_returnflag, l_linestatus,
              |  CAST(grouping(l_returnflag) AS INT) AS g1,
              |  CAST(grouping(l_linestatus) AS INT) AS g2,
              |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              |  COUNT(*) AS n
              |FROM graft_li_gs
              |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
              |ORDER BY g1, g2, l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin)
    }),

    // ---- record linkage: blocking keys bound the candidate space, a
    // codegen'd Jaro–Winkler comparator scores within blocks (semantics
    // pinned to DuckDB/RapidFuzz, so raw doubles oracle bit-for-bit) ----
    "q53_linkage" -> ((s, dir) => {
      import graft.functions.jaroWinkler
      val p = t(s, dir, "part").select("p_partkey", "p_name", "p_brand", "p_size")
      val l = p.select(col("p_brand"), col("p_size"),
        col("p_partkey").as("key1"), col("p_name").as("name1"))
      val r = p.select(col("p_brand"), col("p_size"),
        col("p_partkey").as("key2"), col("p_name").as("name2"))
      l.join(r, Seq("p_brand", "p_size"))
        .filter(col("key1") < col("key2"))
        .select(col("key1"), col("key2"),
          jaroWinkler(col("name1"), col("name2")).as("sim"))
        .filter(col("sim") >= 0.93)
        .orderBy("key1", "key2")
    }),

    // ---- batch ANN kNN join: every vector probes its nprobe nearest
    // IVF cells; candidates via one equi-join on the cell key, reduced
    // by the bounded-heap top-k aggregate (no window sort) -------------
    "e7_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", nlist = 8)
        .knnJoin(k = 5, nprobe = 2)
        .orderBy("id", "rank")
    }),

    // ---- kNN label propagation (auto-labeling / weak supervision):
    // every vector takes the majority label of its 5 approximate
    // nearest neighbors (ties break to the smallest label), scored as a
    // confusion matrix against the true labels — the evaluation a
    // similarity-search-based labeling pipeline ships with. Same ANN
    // join as e7; only small (id, label, votes) rows shuffle after it --
    "e13_knn_classify" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val knn = ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", nlist = 8)
        .knnJoin(k = 5, nprobe = 2)
      val labels = emb.select(col("vec_id").cast("long").as("nid"),
        col("label").as("nlabel"))
      val votes = knn.join(labels, Seq("nid"))
        .groupBy(col("id"), col("nlabel")).agg(count(lit(1)).as("votes"))
      // majority vote, deterministic: most votes, then smallest label —
      // min_by over the (−votes, label) total order hash-aggregates
      val pred = votes.groupBy("id")
        .agg(min_by(col("nlabel"),
          struct((-col("votes")).as("nv"), col("nlabel"))).as("pred_label"))
      pred.join(emb.select(col("vec_id").cast("long").as("id"),
          col("label").as("true_label")), Seq("id"))
        .groupBy("true_label", "pred_label").agg(count(lit(1)).as("n"))
        .orderBy("true_label", "pred_label")
    }),

    // ---- incremental ANN index maintenance: build the IVF index over
    // a base slice, then ABSORB the rest via addVectors (assignment to
    // the frozen centroid panel, no refit, no touch of existing rows).
    // Assignment is a pure function of (vector, centroids), so the
    // result must EQUAL a batch rebuild — the oracle replays the
    // full-corpus index, proving the equality end to end ----------------
    "e14_ivf_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // sf-agnostic split that keeps seed ids 0..7 in the base slice
      val baseCond = col("vec_id") < 8 || col("vec_id") % 3 === 0
      val idx = ops.Similarity.ivfIndexSeeded(
        emb.filter(baseCond), "vec_id", "embedding", nlist = 8)
        .addVectors(emb.filter(!baseCond), "vec_id", "embedding")
      idx.knnJoin(k = 3, nprobe = 3).orderBy("id", "rank")
    }),

    // ---- ANN quality evaluation: recall@5 of the IVF kNN join against
    // exact brute force over a 50-query panel — the measurement every
    // ANN deployment ships with ------------------------------------------
    "e10_ann_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val approx = ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", nlist = 8)
        .knnJoin(k = 5, nprobe = 2)
        .filter(col("id") < 50)
        .select(col("id"), col("nid"))
      val v = emb.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      val q = v.filter(col("id") < 50)
        .select(col("id").as("qid"), col("v").as("qv"))
      // exact ground truth: 50-row query panel broadcast over one corpus
      // scan, per-query top-5 by (cos DESC, nid)
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val exact = v.crossJoin(broadcast(q))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id").as("nid"),
          ops.Similarity.cosine(col("v"), col("qv")).as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid").as("id"), col("nid"))
      val matched = approx.join(exact, Seq("id", "nid"))
        .groupBy("id").agg(count(lit(1)).as("n_match"))
      q.select(col("qid").as("id")).join(matched, Seq("id"), "left")
        .select(col("id"), coalesce(col("n_match"), lit(0L)).as("n_match"),
          (coalesce(col("n_match"), lit(0L)).cast("double") / 5.0).as("recall"))
        .orderBy("id")
    }),

    // ---- recall bound for the KMeans IVF variant (e10 covers the
    // seeded quantizer): MLlib centroids are float-trained, so exact
    // neighbor lists are not SQL-replayable — instead the gate emits
    // PROPERTY booleans that hold with wide margin at every SF: partial
    // probe (3/8 cells) clears an average-recall floor, and probing ALL
    // cells recovers brute force to within float-tie noise --------------
    "e12_ivf_kmeans_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val idx = ops.Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 8)
      val v = emb.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      val q = v.filter(col("id") < 40).select(col("id").as("qid"), col("v").as("qv"))
      val nQueries = q.count()
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val exact = v.crossJoin(broadcast(q))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id").as("nid"),
          ops.Similarity.cosine(col("v"), col("qv")).as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid").as("id"), col("nid"))
        .ckpt // consumed by both recall joins
      def recall(nprobe: Int): Double = {
        val matches = idx.knnJoin(k = 5, nprobe = nprobe)
          .filter(col("id") < 40).select(col("id"), col("nid"))
          .join(exact, Seq("id", "nid")).count()
        matches.toDouble / (5.0 * nQueries)
      }
      val r = s.range(1).select(
        lit(nQueries).as("n_queries"),
        lit(recall(3) >= 0.5).as("partial_probe_recall_ok"),
        lit(recall(8) >= 0.98).as("full_probe_exact_ok"))
      r
    }),

    // ---- concat-and-chunk sequence packing: per-language token stream
    // sliced into 512-token training sequences --------------------------
    "d24_pack" -> ((s, dir) => {
      ops.CorpusOps.pack(t(s, dir, "documents"), "doc_id", "text",
          groupCol = "lang", budget = 512L)
        .withColumnRenamed("grp", "lang")
        .orderBy("lang", "seq_id")
    }),

    // ---- Gopher-style repetition quality signals: top-bigram and
    // duplicate-trigram fractions, folded row-locally (no shuffle) ------
    "d25_repetition" -> ((s, dir) => {
      ops.CorpusOps.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- bigram-LM quality scores: fixed-point conditional
    // probabilities from the corpus's own counts ------------------------
    "d26_lm_score" -> ((s, dir) => {
      ops.CorpusOps.lmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc")
    }),

    // ---- product quantization: seeded codebook, squared-L2 argmin per
    // subspace, element-wise codes — pure projection, no shuffle --------
    "e8_pq" -> ((s, dir) => {
      ops.Similarity.productQuantize(t(s, dir, "embeddings"),
          "vec_id", "embedding", m = 8, k = 8)
        .orderBy("id", "sub")
    }),

    // ---- PQ asymmetric-distance search: the query half of e8 — every
    // doc represented only by its 8 sub-space codes, scored per query
    // as a fixed-order fold of LUT entries (the 16-64x-less-I/O scan
    // PQ exists for); codes + broadcast LUT, corpus vectors never read
    // at query time ------------------------------------------------------
    "e18_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      ops.Similarity.pqAdcTopK(emb, "vec_id", "embedding",
          queries, "qid", "qv", m = 8, k = 8, topK = 10)
        .orderBy("qid", "rank")
    }),

    // ---- SQ8 search: brute-force top-k over int8-quantized vectors —
    // integer code dots (exact, partition-invariant) rescaled by the
    // two per-vector scales in fixed order; 4-8x less scan I/O --------
    "e20_sq8_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      ops.Similarity.sq8TopK(emb, "vec_id", "embedding",
          queries, "qid", "qv", k = 10)
        .orderBy("qid", "rank")
    }),

    // ---- MMR diversity re-rank: distributed top-40 relevance panel,
    // then the inherently-sequential greedy (each pick re-scores the
    // rest) driver-side over the bounded panel — picks must replay
    // bit-exactly in the unrolled-CTE oracle -----------------------------
    "e22_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).collect()(0)
        .getAs[scala.collection.Seq[Double]](0).toArray
      ops.Similarity.mmrRerank(emb.filter(col("vec_id") =!= 0),
          "vec_id", "embedding", q, fetch = 40, k = 5)
        .orderBy("rank")
    }),

    // ---- FILTERED vector search: neighbors restricted to a metadata
    // predicate (odd labels), filter applied BEFORE the cell join so
    // candidate volume shrinks with selectivity and recall inside the
    // eligible set is preserved (post-filtering would drop eligible
    // neighbors ranked below ineligible ones) ---------------------------
    "e21_filtered_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val eligible = emb.filter(col("label") % 2 === 1)
        .select(col("vec_id").as("id"))
      ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", nlist = 8)
        .knnJoinFiltered(k = 5, nprobe = 2, eligible)
        .orderBy("id", "rank")
    }),

    // ---- IVF-PQ search (the faiss IVFx,PQy shape, global codebook):
    // coarse cells prune to nprobe/nlist of the corpus, PQ ADC scores
    // only the survivors — index structures compose multiplicatively ----
    "e19_ivf_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val idx = ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding",
        nlist = 8)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      ops.Similarity.ivfPqTopK(idx, emb, "vec_id", "embedding",
          queries, "qid", "qv", m = 8, k = 8, nprobe = 4, topK = 10)
        .orderBy("qid", "rank")
    }),

    // ---- multimodal: frame-sample real YUV4MPEG2 streams (every 3rd
    // frame), rows explode executor-side — video bytes never shuffle ----
    "m3_video_frames" -> ((s, dir) => {
      val vids = ops.Multimodal.syntheticVideo(
        t(s, dir, "documents").select("doc_id"), "doc_id")(s)
      ops.Multimodal.frameSampleFeatures(vids, stride = 3).toDF()
        .orderBy("media_id", "frame_idx")
    }),

    // ---- audio envelope: block-mean downsampling of real WAV PCM (the
    // audio analogue of m3's frame sampling) — bytes decode in the scan,
    // only (id, block, mean) rows move; integer sums → exact oracle ----
    "m11_audio_blocks" -> ((s, dir) => {
      val media = ops.Multimodal.syntheticMedia(
        t(s, dir, "documents").select("doc_id"), "doc_id")(s)
      ops.Multimodal.audioBlockFeatures(media, blockSize = 100).toDF()
        .orderBy("media_id", "block_idx")
    }),

    // ---- ViT-style patch tokenization: lossless png decodes split
    // into an 8×8 ceil-grid with ragged edge patches; each image
    // explodes into patch rows executor-side — bytes never shuffle ------
    "m12_patchify" -> ((s, dir) => {
      val media = ops.Multimodal.syntheticMedia(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
          .select("doc_id"), "doc_id")(s)
      ops.Multimodal.patchFeatures(media, patch = 8).toDF()
        .orderBy("media_id", "py", "px")
    }),

    // ---- shot-cut detection: consecutive-frame mean-abs-difference over
    // scene-structured y4m streams (in-scene delta exactly 0, boundary
    // delta large) — record-local decode, video bytes never shuffle ------
    "m10_scene_cuts" -> ((s, dir) => {
      val vids = ops.Multimodal.syntheticSceneVideo(
        t(s, dir, "documents").select("doc_id")
          .filter(col("doc_id") % 5 === 0), "doc_id")(s)
      ops.Multimodal.sceneCuts(vids, threshold = 1.0).toDF()
        .orderBy("media_id", "frame_idx")
    }),

    // ---- count-min sketch: build from the per-key pre-aggregate, probe
    // a key subset, report estimate beside truth (est >= true always) ---
    "q54_cms" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val sk = ops.Sketch.countMin(o, "o_custkey", depth = 4, width = 256)
      val probes = o.filter(col("o_custkey") < 50).select("o_custkey").distinct()
      val est = ops.Sketch.countMinEstimate(sk, probes, "o_custkey",
        depth = 4, width = 256)
      val truth = o.filter(col("o_custkey") < 50)
        .groupBy("o_custkey").agg(count(lit(1)).as("true_n"))
      est.join(truth, Seq("o_custkey"))
        .select(col("o_custkey"), col("true_n"), col("est"))
        .orderBy("o_custkey")
    }),

    // ---- HyperLogLog register file: one hash-aggregate, <= 2^p rows on
    // the wire; registers merge by max (estimate accuracy spec-tested) --
    "q55_hll" -> ((s, dir) => {
      ops.Sketch.hllRegisters(t(s, dir, "lineitem"), "l_partkey", p = 10)
        .orderBy("bucket")
    }),

    // ---- per-group HLL with register-file merge: "distinct parts per
    // returnflag" built from three OVERLAPPING slices (at-least-once
    // ingest) and merged by (group, bucket) max — idempotence makes the
    // merged file equal the whole-table file BIT-EXACTLY, which is the
    // oracle: DuckDB computes the registers straight off the full scan --
    "q72_hll_grouped" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_partkey")
      val slices = Seq(0, 1, 2).map(r =>
        ops.Sketch.hllRegistersByGroup(li.filter(col("l_orderkey") % 3 =!= r),
          "l_returnflag", "l_partkey", p = 10))
      ops.Sketch.hllMergeByGroup(slices, "l_returnflag")
        .orderBy("l_returnflag", "bucket")
    }),

    // ---- cross-doc boilerplate removal: a shared 16-token header is
    // injected into every 5th doc, detected by span doc-frequency, and
    // stripped; short natural tail spans shared by >5 docs drop too ----
    "d27_boilerplate" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit(boilerplateHeader + " "), col("text")))
          .otherwise(col("text")).as("text"))
      ops.CorpusOps.removeBoilerplate(aug, "doc_id", "text", unit = 8, maxDf = 5)
        .orderBy("doc_id")
    }),

    // ---- deterministic md5-bucket train/val/test split: stable under
    // reruns, repartitioning, and incremental corpus growth ------------
    "d28_split" -> ((s, dir) => {
      ops.CorpusOps.deterministicSplit(
          t(s, dir, "documents").select("doc_id", "lang"), "doc_id")
        .orderBy("doc_id")
    }),

    // ---- temperature-weighted domain mixing (α = 0.5 upweights
    // minority languages); per-domain keep fractions from exact counts,
    // membership by salted md5 fraction --------------------------------
    "d29_temperature_mix" -> ((s, dir) => {
      ops.CorpusOps.temperatureMix(
          t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
          targetFrac = 0.5)
        .orderBy("doc_id")
    }),

    // ---- degree-oriented triangle counting over the within-order
    // part-co-occurrence graph ------------------------------------------
    "g2_triangles" -> ((s, dir) => {
      val parts = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
        .distinct()
      val pairs = parts.as("x").join(parts.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("p1"), col("y.p").as("p2"))
      ops.Graph.triangleCount(pairs, "p1", "p2")
        .orderBy("node")
    }),

    // ---- single-source shortest paths: synchronous Bellman–Ford
    // rounds over the supplier–part bipartite graph, integer weights
    // derived from quantities; fixed rounds = exactly what the
    // recursive-CTE oracle replays ---------------------------------------
    "g3_shortest_paths" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val w = (col("l_quantity").cast("long") % 7 + 1).as("w")
      val edges = li.select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey").cast("long") + 1000000L).as("dst"), w)
        .unionAll(li.select((col("l_partkey").cast("long") + 1000000L).as("src"),
          col("l_suppkey").cast("long").as("dst"), w))
      ops.Graph.shortestPaths(edges, "src", "dst", "w",
          sourceId = 1L, iterations = 6)
        .orderBy("node")
    }),

    // ---- community detection: synchronous label propagation with a
    // deterministic (−votes, label) tie-break over the supplier—part
    // graph (the operator symmetrizes internally); round-bounded
    // semantics make even bipartite label oscillation exactly
    // replayable by the unrolled SQL oracle -----------------------------
    "g4_label_prop" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000L).as("dst"))
      ops.Graph.labelPropagation(edges, "src", "dst", iterations = 3)
        .orderBy("node")
    }),

    // ---- k-core peeling: 3 synchronous degree-prune rounds at k=25 on
    // the supplier—part graph — the structural fringe filter; the
    // multi-round cascade is proven on a path graph in the spec ----------
    "g5_kcore" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000L).as("dst"))
      ops.Graph.kCore(edges, "src", "dst", k = 25, rounds = 3)
        .orderBy("node")
    }),

    // ---- gaps-and-islands over a sparse key subset: distributed via
    // per-range fragments + connected-components merge (the oracle uses
    // the single-sort window formulation — same result) -----------------
    "q56_islands" -> ((s, dir) => {
      val keys = t(s, dir, "orders")
        .filter(col("o_custkey") % 3 === 0)
        .select(col("o_orderkey").cast("long").as("k")).distinct()
      ops.Islands.islands(keys, "k", bucketWidth = 4096)
        .groupBy(col("island_len"))
        .agg(count(lit(1)).as("n_islands"),
          min("island_start").as("min_start"),
          max("island_start").as("max_start"))
        .orderBy("island_len")
    }),

    // ---- per-group z-score outliers from EXACT decimal moments: the
    // five stat rows broadcast back over one pruned scan ----------------
    "q57_outliers" -> ((s, dir) => {
      val ev = events(s, dir)
      val vdec = col("value").cast("decimal(18,6)")
      val stats = ev.groupBy(col("event_type").as("g"))
        .agg(count(lit(1)).as("n"),
          sum(vdec).cast("double").as("s1"),
          sum(vdec * vdec).cast("double").as("s2"))
      val mean = col("s1") / col("n")
      val z = (col("value") - mean) /
        sqrt(col("s2") / col("n") - mean * mean)
      ev.join(broadcast(stats), ev("event_type") === col("g"))
        .select(col("event_id"), col("event_type"), col("value"), z.as("z"))
        .filter(abs(col("z")) > 3.0)
        .orderBy("event_id")
    }),

    // ---- fixed-point distributed k-means (Lloyd, 2 iterations, seeded
    // centroids): integer micro-units end to end, so assignments and
    // centroids are bit-identical on any partitioning and in the
    // unrolled-CTE oracle ------------------------------------------------
    "e9_kmeans" -> ((s, dir) => {
      ops.Similarity.kmeansFixedPoint(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 4, iterations = 2)
        .orderBy("cid", "dim")
    }),

    // ---- cluster-balanced diversity sampling: k-means cells (same
    // integer Lloyd loop as e9) + the d15 salted-hash per-group pick —
    // "N per semantic cluster" flattens topical skew before training ----
    "e16_cluster_sample" -> ((s, dir) => {
      ops.Similarity.clusterBalancedSample(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 4, iterations = 2, perCell = 10)
        .orderBy("cid", "id")
    }),

    // ---- streaming incremental upsert: foreachBatch folds each
    // micro-batch into a keyed aggregate state via Merge.incrementalAgg;
    // the decimal sum-merge is exact and commutative, so the final state
    // is batch-boundary-independent and equals the batch aggregate ------
    "s8_stream_upsert" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val tmp = gateScratch("s8")
      val purchases = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_type") === "purchase")
        .select("user_id", "value")
      purchases.withColumn("shard", pmod(col("user_id"), lit(4)))
        .repartition(4, col("shard"))
        .write.parquet(s"$tmp/in") // 4 files → 4 micro-batches
      val stateSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("total",
          org.apache.spark.sql.types.DecimalType(18, 2))))
      var state = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
      withNarrowState(s) {
        val q = s.readStream
          .schema(purchases.withColumn("shard", pmod(col("user_id"), lit(4))).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            state = ops.Merge.incrementalAgg(state,
                batch.withColumn("sign", lit(1L)), "user_id", "value", "sign")
              .localCheckpoint(eager = true) // sever the micro-batch source
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      state.select(col("user_id"), col("n"), col("total").cast("double").as("total"))
        .orderBy("user_id")
    }),

    // ---- streaming CHECKPOINT RESTART across query incarnations: run
    // the s8 fold to completion, land MORE files, then start a SECOND
    // query from the SAME checkpoint — the file source must resume past
    // the already-processed epoch (each row folds exactly once; a
    // re-delivery would double n/total and hash-mismatch the batch
    // oracle). The exactly-once runtime evidence the spec-only
    // checkpoint test couldn't give ------------------------------------
    "s14_stream_restart" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val tmp = gateScratch("s14")
      val purchases = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_type") === "purchase")
        .select("user_id", "value")
      val epoch1 = purchases.filter(col("user_id") % 2 === 0)
      val epoch2 = purchases.filter(col("user_id") % 2 === 1)
      epoch1.repartition(2).write.parquet(s"$tmp/in")
      val stateSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("total",
          org.apache.spark.sql.types.DecimalType(18, 2))))
      var state = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
      def incarnation(): Unit = withNarrowState(s) {
        val q = s.readStream
          .schema(purchases.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            state = ops.Merge.incrementalAgg(state,
                batch.withColumn("sign", lit(1L)), "user_id", "value", "sign")
              .localCheckpoint(eager = true) // sever the micro-batch source
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      incarnation() // processes epoch 1, commits offsets
      epoch2.repartition(2).write.mode("append").parquet(s"$tmp/in")
      incarnation() // MUST fold only the new files
      state.select(col("user_id"), col("n"), col("total").cast("double").as("total"))
        .orderBy("user_id")
    }),

    // ---- streaming distinct-cardinality maintenance: each micro-batch's
    // grouped HLL register file folds into keyed register state via
    // foreachBatch merge-by-max — "distinct users per event type" kept
    // incrementally, the streaming face of q72. Max-merge is associative,
    // commutative, and idempotent, so the final state is batch-boundary-
    // independent and must equal the whole-table register file
    // BIT-EXACTLY — which is the oracle ---------------------------------
    "s13_stream_hll" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val tmp = gateScratch("s13")
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select("event_type", "user_id")
      val sharded = ev.withColumn("shard", pmod(col("user_id"), lit(4)))
      sharded.repartition(4, col("shard"))
        .write.parquet(s"$tmp/in") // 4 files → 4 micro-batches
      // empty-typed seed: schema comes from the operator, not hand-built
      var state = ops.Sketch.hllRegistersByGroup(ev.limit(0),
        "event_type", "user_id", p = 8)
      withNarrowState(s) {
        val q = s.readStream
          .schema(sharded.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            state = ops.Sketch.hllMergeByGroup(Seq(state,
                ops.Sketch.hllRegistersByGroup(batch,
                  "event_type", "user_id", p = 8)), "event_type")
              .localCheckpoint(eager = true) // sever the micro-batch source
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      state.orderBy("event_type", "bucket")
    }),

    // ---- real file ingestion: PNG files on disk → binaryFile source →
    // batched decode; the production multimodal ingestion path ----------
    "m6_binary_ingest" -> ((s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Paths.get(gateScratch("m6"))
      // ids derive from the documents table (not a hard-coded range) so
      // gate and oracle agree at EVERY scale factor
      t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") % 3 === 0 && col("doc_id") < 60)
        .collect().map(_.getLong(0)).foreach { id =>
        java.nio.file.Files.write(tmp.resolve(f"img_$id%04d.png"),
          ops.Multimodal.MediaGen.image("png", (id % 64 + 1).toInt, (id % 48 + 1).toInt, id))
      }
      val recs = s.read.format("binaryFile").load(tmp.toString + "/*.png")
        .select(regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("media_id"), col("content"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) => ops.Multimodal.MediaRecord(id, bytes,
          ops.Multimodal.MediaMeta("png", 0, 0, 0L)) }
      ops.Multimodal.extractFeatures(recs).toDF()
        .select(col("media_id"), col("width"), col("height"), col("mean_val"))
        .orderBy("media_id")
    }),

    // ---- balanced training-shard manifest: docs ranked by token count
    // descending (single-reducer-free), round-robined over 16 shards —
    // the LPT-style size balancing a sharded loader needs ---------------
    "d32_shard_manifest" -> ((s, dir) => {
      import graft.functions.TextFunctions.tokenCount
      val sized = t(s, dir, "documents").select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      ops.Sequencing.globalRank(sized,
          Seq(col("n_tokens").desc, col("doc_id")), "rank")
        .withColumn("shard", (col("rank") - 1) % 16)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"))
        .orderBy("shard")
    }),

    // ---- sparse matmul as join–aggregate: doc-term tf triples × a
    // term→topic weight matrix, contracted on the token key -------------
    "d31_sparse_matmul" -> ((s, dir) => {
      ops.CorpusOps.projectTopics(
          t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
          "doc_id", "text", nTopics = 4)
        .orderBy("doc", "topic")
    }),

    // ---- curriculum training order: quality-bucketed stages, salted
    // md5 shuffle within a stage, global sequence numbers WITHOUT a
    // single-reducer sort (range partitions + per-partition offsets) ----
    "d30_curriculum" -> ((s, dir) => {
      val score = graft.functions.TextFunctions.qualityScore(col("text"))
      val scored = t(s, dir, "documents").select(col("doc_id"),
        when(score >= 0.8, 0).when(score >= 0.6, 1).otherwise(2).as("stage"),
        md5(concat(lit("graft-epoch0-"), col("doc_id").cast("string")))
          .as("shuffle_key"))
      ops.Sequencing.globalRank(scored,
          Seq(col("stage"), col("shuffle_key"), col("doc_id")), "rank")
        .select("rank", "stage", "doc_id")
        .orderBy("rank")
    }),

    // ---- small-file compaction: fragment the table into 40 files,
    // compact to ceil(rows/20k) range-partitioned files, verify content
    // and file count against the source-table oracle --------------------
    "q62_compaction" -> ((s, dir) => {
      val tmp = gateScratch("q62")
      events(s, dir).select(col("event_id"), col("event_type"), col("value"))
        .repartition(40).write.parquet(s"$tmp/frag")
      val nFiles = ops.Layout.compact(s, s"$tmp/frag", s"$tmp/compact",
        "event_id", targetRowsPerFile = 20000L)
      s.read.parquet(s"$tmp/compact")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
        .withColumn("n_files", lit(nFiles))
        .orderBy("event_type")
    }),

    // ---- file-level data skipping: per-file min/max manifest over a
    // range-compacted layout, range read prunes non-overlapping files
    // BEFORE the scan; residual filter keeps the result exactly equal
    // to the full-scan filter the oracle runs ---------------------------
    "q69_data_skipping" -> ((s, dir) => {
      val tmp = gateScratch("q69")
      // sub-phase probes attribute the headline: 3 write passes are the
      // bulk BY DESIGN — without them a read-path regression would hide
      // inside the total (q22-style probes, drained by Bench per query)
      graft.util.BenchProbe.time("q69_write_raw") {
        t(s, dir, "lineitem").select("l_orderkey", "l_returnflag", "l_quantity")
          .write.parquet(s"$tmp/raw")
      }
      graft.util.BenchProbe.time("q69_compact") {
        ops.Layout.compact(s, s"$tmp/raw", s"$tmp/sorted",
          "l_orderkey", targetRowsPerFile = 2000L)
      }
      val manifest = graft.util.BenchProbe.time("q69_manifest") {
        ops.Layout.statsManifest(s, s"$tmp/sorted", Seq("l_orderkey"))
      }
      ops.Layout.prunedRead(s, s"$tmp/sorted", manifest, "l_orderkey",
          lit(1000L), lit(3000L))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- MANIFEST-OF-MANIFESTS read path: q69's scenario through the
    // two-level index — per-file stats partitioned into range-clustered
    // groups + a tiny group rollup; the probe reads the rollup, opens
    // only surviving graft_group= partitions, and must produce exactly
    // the flat pruned read's answer (same oracle as q69) ----------------
    "q111_grouped_manifest" -> ((s, dir) => {
      val tmp = gateScratch("q111")
      t(s, dir, "lineitem").select("l_orderkey", "l_returnflag", "l_quantity")
        .write.parquet(s"$tmp/raw")
      ops.Layout.compact(s, s"$tmp/raw", s"$tmp/sorted",
        "l_orderkey", targetRowsPerFile = 2000L)
      ops.Layout.statsManifestPartitioned(s, s"$tmp/sorted",
        Seq("l_orderkey"), s"$tmp/mf", groupSize = 4L)
      ops.Layout.prunedRead(s, s"$tmp/sorted",
          ops.Layout.Manifest.TwoLevel(s"$tmp/mf"),
          "l_orderkey", lit(1000L), lit(3000L))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- merge-on-read over the TWO-LEVEL manifest: a DV takedown
    // wave (all 'R' rows) subtracts from the grouped-manifest range
    // probe — the lake's row-level deletes and the q111 metadata layout
    // composed; oracle = the straight filter minus the deleted class --
    "q113_grouped_dv_read" -> ((s, dir) => {
      val tmp = gateScratch("q113")
      t(s, dir, "lineitem").select("l_orderkey", "l_returnflag", "l_quantity")
        .write.parquet(s"$tmp/raw")
      ops.Layout.compact(s, s"$tmp/raw", s"$tmp/sorted",
        "l_orderkey", targetRowsPerFile = 2000L)
      ops.Layout.statsManifestPartitioned(s, s"$tmp/sorted",
        Seq("l_orderkey"), s"$tmp/mf", groupSize = 4L)
      val dv = ops.Layout.deletionVectors(s, s"$tmp/sorted",
        col("l_returnflag") === "R")
      ops.Layout.prunedReadWithDeletes(s, s"$tmp/sorted",
          ops.Layout.Manifest.TwoLevel(s"$tmp/mf"),
          "l_orderkey", lit(1000L), lit(3000L), dv)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- INCREMENTAL two-level manifest growth: build the grouped
    // layout over the even keys, append the odd keys as new files, and
    // extendManifestGrouped absorbs them at O(new data) — new rows fill
    // the tail group then open fresh groups, rollup recomputed for
    // touched groups only. The grouped probe over the EXTENDED layout
    // must equal the straight full-table range filter -------------------
    "q112_grouped_manifest_extend" -> ((s, dir) => {
      val tmp = gateScratch("q112")
      def li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      li.filter(col("l_orderkey") % 2 === 0).write.parquet(s"$tmp/raw")
      ops.Layout.compact(s, s"$tmp/raw", s"$tmp/sorted",
        "l_orderkey", targetRowsPerFile = 2000L)
      ops.Layout.statsManifestPartitioned(s, s"$tmp/sorted",
        Seq("l_orderkey"), s"$tmp/mf", groupSize = 4L)
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(6, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/sorted")
      ops.Layout.extendManifestGrouped(s, s"$tmp/sorted", s"$tmp/mf",
        Seq("l_orderkey"), groupSize = 4L)
      ops.Layout.prunedRead(s, s"$tmp/sorted",
          ops.Layout.Manifest.TwoLevel(s"$tmp/mf"),
          "l_orderkey", lit(1000L), lit(3000L))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- takedown against the TWO-LEVEL manifest, end to end: the
    // delete keys resolve addresses through the group rollup (file rows
    // read only at surviving graft_group partitions), and the grouped
    // merge-on-read range probe subtracts them — a 10⁷-file table
    // absorbs a scattered erase wave with every consumer staying at
    // O(groups-touched · groupSize) driver paths -----------------------
    "q122_grouped_takedown" -> ((s, dir) => {
      val tmp = gateScratch("q122")
      t(s, dir, "lineitem").select("l_orderkey", "l_returnflag", "l_quantity")
        .write.parquet(s"$tmp/raw")
      ops.Layout.compact(s, s"$tmp/raw", s"$tmp/sorted",
        "l_orderkey", targetRowsPerFile = 2000L)
      ops.Layout.statsManifestPartitioned(s, s"$tmp/sorted",
        Seq("l_orderkey"), s"$tmp/mf", groupSize = 4L)
      val keys = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 17 === 0).select("l_orderkey")
      val dv = ops.Layout.deletionVectorsForKeysPruned(s, s"$tmp/sorted",
        ops.Layout.Manifest.TwoLevel(s"$tmp/mf"), keys, "l_orderkey")
      ops.Layout.prunedReadWithDeletes(s, s"$tmp/sorted",
          ops.Layout.Manifest.TwoLevel(s"$tmp/mf"),
          "l_orderkey", lit(1000L), lit(3000L), dv)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- SELECTIVE merge into a range-partitioned layout: changes are
    // confined to low keys (< 3000) plus out-of-range inserts, so only
    // the overlapping files re-encode — the rest stream-copy verbatim;
    // result must equal the whole-table applyChanges --------------------
    "q77_merge_layout" -> ((s, dir) => {
      val tmp = gateScratch("q77")
      def o = t(s, dir, "orders")
      val snap = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
      snap.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.parquet(s"$tmp/t")
      val upd = o.filter(col("o_orderkey") % 7 === 0 &&
          col("o_orderkey") % 13 =!= 0 && col("o_orderkey") < 3000)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 10.0).as("o_totalprice"),
          lit(false).as("is_delete"))
      val dels = o.filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") < 3000)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          lit(true).as("is_delete"))
      val ins = o.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 10000000).as("o_orderkey"),
          lit("I").as("o_orderstatus"), lit(1.0).as("o_totalprice"),
          lit(false).as("is_delete"))
      ops.Layout.mergeIntoLayout(s, s"$tmp/t", s"$tmp/out",
        upd.unionAll(dels).unionAll(ins), "o_orderkey")
      s.read.parquet(s"$tmp/out").orderBy("o_orderkey")
    }),

    // ---- 2-D skyline (Pareto frontier) per group: lineitems no other
    // item beats on BOTH price and quantity (minimize both). Duplicate
    // (price, qty) points pre-collapse in ONE hash aggregate (equal
    // points never dominate each other), then a single per-group window
    // decides dominance: sorted by (price, qty), a point survives iff
    // its qty undercuts every preceding qty — no self-join, no O(n²)
    // dominance test, partitioning-invariant ----------------------------
    "q80_skyline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(18,2)").as("price"),
          col("l_quantity").cast("long").as("qty"))
        .agg(count(lit(1)).as("n_rows"))
      val prevMin = min(col("qty")).over(
        Window.partitionBy("l_returnflag").orderBy(col("price"), col("qty"))
          .rowsBetween(Window.unboundedPreceding, -1))
      p.withColumn("pm", prevMin)
        .filter(col("pm").isNull || col("qty") < col("pm"))
        .select(col("l_returnflag"), col("price").cast("double").as("price"),
          col("qty"), col("n_rows"))
        .orderBy("l_returnflag", "price")
    }),

    // ---- weighted median per group: the 50th percentile where each
    // row counts `weight` times — the robust center a quality-scored
    // corpus reports (docs weighted by token count). ONE sort exchange
    // on the group key serves the running weight, the partition total,
    // AND the qualifying-row pick; integer weights make the threshold
    // test exact, and monotone qualification turns "first qualifying
    // value" into a plain MIN — no second pass, no row_number ----------
    "q81_weighted_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("g")
        .orderBy(col("v"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          col("l_extendedprice").cast("decimal(18,2)").as("v"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("cw", sum("w").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tw", sum("w").over(Window.partitionBy("g")))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy(col("g").as("l_returnflag"))
        .agg(min("v").cast("double").as("wmedian"),
          max("tw").as("total_weight"))
        .orderBy("l_returnflag")
    }),

    // ---- grouped mode: most frequent quantity per returnflag as an
    // argmax-by-struct aggregate — (count, value) pairs reduce under
    // max(), so the pick is two hash aggregates with map-side combine
    // and NO window sort; ties break toward the larger value (struct
    // field order), pinned in the oracle --------------------------------
    "q82_mode" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
        .agg(count(lit(1)).as("n"))
        .groupBy("l_returnflag")
        .agg(max(struct(col("n"), col("qty"))).as("m"))
        .select(col("l_returnflag"), col("m.qty").as("mode_qty"),
          col("m.n").as("mode_n"))
        .orderBy("l_returnflag")
    }),

    // ---- interval coalescing: overlapping per-user activity windows
    // [ts, ts+30min] merged into maximal disjoint spans — the classic
    // gaps-and-islands-on-intervals op. One user_id shuffle serves the
    // running-max window, the group flag, and the final aggregate -------
    "q79_interval_coalesce" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val iv = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").cast("long").as("s0"))
        .withColumn("e0", col("s0") + 1800L)
      val ord = Window.partitionBy("user_id").orderBy(col("s0"), col("e0"))
      val prevMax = max(col("e0")).over(
        ord.rowsBetween(Window.unboundedPreceding, -1))
      iv.withColumn("new_grp",
          when(prevMax.isNull || col("s0") > prevMax, 1L).otherwise(0L))
        .withColumn("grp", sum(col("new_grp")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "grp")
        .agg(min("s0").as("span_start"), max("e0").as("span_end"),
          count(lit(1)).as("n_events"))
        .select("user_id", "span_start", "span_end", "n_events")
        .orderBy("user_id", "span_start")
    }),

    // ---- time-weighted average (TWAP): each reading holds until the
    // user's next event, so the mean weights values by their holding
    // duration — the correct aggregate for irregularly-sampled signals
    // (price feeds, sensor states). ONE shuffle on user_id serves both
    // the lead() window and the aggregate (same partitioning); the
    // weighted sum is exact decimal·µs so the division of two agreed
    // doubles is IEEE-identical cross-engine ----------------------------
    "q78_twap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          col("value").cast("decimal(18,3)").as("v"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .groupBy("user_id")
        .agg(sum(col("v") * (col("next_us") - col("us"))).cast("double").as("wsum"),
          sum(col("next_us") - col("us")).as("dur_us"))
        .select(col("user_id"), col("wsum"), col("dur_us"),
          (col("wsum") / col("dur_us").cast("double")).as("twap"))
        .orderBy("user_id")
    }),

    // ---- INCREMENTAL compaction: a mixed layout (2 healthy range-
    // sorted files + 17 fragment files) is repaired by re-encoding ONLY
    // the fragments — the healthy files are copied byte-for-byte with
    // no decode; content must equal the full table and the file count
    // is pinned (2 kept + ceil(fragmentRows/target) rewritten) ----------
    "q75_compact_incremental" -> ((s, dir) => {
      val tmp = gateScratch("q75")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(2, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.parquet(s"$tmp/t")
      li.filter(col("l_orderkey") % 2 === 1)
        .repartition(17)
        .write.mode("append").parquet(s"$tmp/t")
      // threshold sits strictly between the largest fragment
      // (ceil(smallRows/17)) and the healthy files (~smallRows/2),
      // derived from the data so the gate is scale-independent
      val smallRows = li.filter(col("l_orderkey") % 2 === 1).count()
      val nFiles = ops.Layout.compactSmall(s, s"$tmp/t", s"$tmp/out",
        "l_orderkey", targetRowsPerFile = 5000L,
        minRowsPerFile = smallRows / 17 + 3)
      s.read.parquet(s"$tmp/out")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .withColumn("n_files", lit(nFiles))
        .orderBy("l_returnflag")
    }),

    // ---- incremental manifest maintenance: epoch-2 files land in an
    // append-heavy table and the data-skipping manifest refreshes by
    // scanning ONLY the new files (driver-side listing diff — O(#files)
    // planner metadata); the pruned range read over the extended
    // manifest must equal the full-scan filter, exactly like q69 --------
    "q73_manifest_extend" -> ((s, dir) => {
      val tmp = gateScratch("q73")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      // pin epoch-1 stats before the append lands (and prove the
      // extension reuses them verbatim instead of re-scanning)
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .localCheckpoint(eager = true)
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      val m2 = ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("l_orderkey"))
      ops.Layout.prunedRead(s, s"$tmp/t", m2, "l_orderkey",
          lit(1000L), lit(3000L))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- schema evolution: two parquet epochs where the newer gained
    // a column, read through the generic source with mergeSchema —
    // old rows surface the new column as NULL, partition discovery
    // keeps the epoch; the production "table grew a field" path ---------
    "q70_schema_evolution" -> ((s, dir) => {
      val tmp = gateScratch("q70")
      val li = t(s, dir, "lineitem")
      li.filter(col("l_orderkey") % 2 === 0)
        .select("l_orderkey", "l_quantity")
        .write.parquet(s"$tmp/t/epoch=1")
      li.filter(col("l_orderkey") % 2 === 1)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.parquet(s"$tmp/t/epoch=2")
      val merged = io.DataFrameIO.load(io.SourceParams("parquet",
        Some(s"$tmp/t"), Map("mergeSchema" -> "true")))(s)
      merged.groupBy("epoch")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy("epoch")
    }),

    // ---- time-series resample + LOCF: hourly grid per user, forward-
    // filled by the as-of join (one exchange, no range theta-join) ------
    "q61_resample_locf" -> ((s, dir) => {
      val ev = events(s, dir)
        .filter(col("event_type") === "purchase" && col("user_id") < 20)
        .select("user_id", "ts", "value")
      val grid = ev.groupBy("user_id")
        .agg(date_trunc("hour", min("ts")).as("t0"),
          date_trunc("hour", max("ts")).as("t1"))
        .select(col("user_id"),
          explode(sequence(col("t0"), col("t1"), expr("interval 1 hour"))).as("ts"))
      ops.AsOf.asOfJoin(grid, ev, "user_id", "ts", Seq("value"))
        .select(col("user_id"), unix_micros(col("ts")).as("grid_ts_us"),
          col("asof_value").as("locf_value"))
        .orderBy("user_id", "grid_ts_us")
    }),

    // ---- Spark 4 state API v2: transformWithState + StatefulProcessor
    // over the RocksDB store; per-user running aggregates in exact
    // integer cents, one emission per key --------------------------------
    "s9_stream_twstate" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val tmp = gateScratch("s9")
      val purchases = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_type") === "purchase")
        .select("user_id", "value", "event_id")
      purchases.withColumn("shard", pmod(col("user_id"), lit(4)))
        .repartition(4, col("shard"))
        .write.parquet(s"$tmp/in")
      val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try withNarrowState(s) {
        val stream = s.readStream
          .schema(purchases.withColumn("shard", pmod(col("user_id"), lit(4))).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .selectExpr("user_id", "value", "event_id")
          .as[(Long, Double, Long)]
        val out = stream.groupByKey(_._1)
          .transformWithState(new streaming.PurchaseStateProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
        val q = out.toDF("user_id", "n", "total_cents")
          .writeStream.format("memory").queryName("graft_s9_out")
          .outputMode("update")
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      s.table("graft_s9_out").orderBy("user_id")
    }),

    // ---- exact substring dedup (Lee et al. 2022 ExactSubstr): token
    // spans >= n that recur across distinct documents are cut from ALL
    // carriers — the cross-doc duplicated substrings whole-doc dedup
    // cannot touch. The gate plants an 11-token wire-copy span at the
    // head (%7==0) or tail (%7==3) of ~2/7 of the corpus; natural
    // exact-dup documents empty out entirely (all-occurrence semantics,
    // documented) ------------------------------------------------------
    "d40_dup_spans" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(lit(wireCopy + " "), col("text")))
          .when(col("doc_id") % 7 === 3, concat(col("text"), lit(" " + wireCopy)))
          .otherwise(col("text")).as("text"))
      ops.CorpusOps.removeDuplicateSpans(aug, "doc_id", "text",
          n = 6, minDocs = 2)
        .orderBy("doc_id")
    }),

    // ---- BPE encode: the other half of d39's learner — apply a rank-
    // ordered merge table to every word as a literal replace chain
    // (zero shuffle, pure codegen'd projection) --------------------------
    "d41_bpe_encode" -> ((s, dir) => {
      ops.CorpusOps.bpeEncode(t(s, dir, "documents"), "doc_id", "text",
          bpeGateMerges)
        .orderBy("doc_id")
    }),

    // ---- stream-stream LEFT OUTER interval join: matched pairs emit
    // like s3's inner join; an UNMATCHED purchase emits null-padded
    // only once the global watermark (min across both inputs, 2h
    // delay) passes its match-window upper bound and its buffered
    // state is evicted — the semantics that make outer stream joins
    // watermark-bounded instead of infinitely-buffered. Purchases
    // still inside the final watermark horizon stay unemitted (state
    // the stream would keep), which the oracle mirrors exactly --------
    "s12_stream_outer_join" -> ((s, dir) => {
      def stream() = eventStream(s, dir)
      val purchases = stream()
        .filter(col("event_type") === "purchase" && col("user_id") % 7 === 1)
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val views = stream()
        .filter(col("event_type") === "view" && col("user_id") % 7 === 1)
        .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "2 hours")
      val joined = purchases.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      streamToTable(s, joined.select("user_id", "p_id", "v_id"), "s12", "append")
        .orderBy("user_id", "p_id", "v_id")
    }),

    // ---- stream-stream LEFT SEMI join: purchases emitted once iff a
    // same-user view lands within ±1 hour — completes the streaming
    // join family (inner s3, left-outer s12); the left row emits on
    // first match and never again, so append output = EXISTS semi -----
    "s16_stream_semi_join" -> ((s, dir) => {
      def stream() = eventStream(s, dir)
      val purchases = stream()
        .filter(col("event_type") === "purchase" && col("user_id") % 7 === 1)
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val views = stream()
        .filter(col("event_type") === "view" && col("user_id") % 7 === 1)
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "2 hours")
      val joined = purchases.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"),
        "left_semi")
      streamToTable(s, joined.select("user_id", "p_id"), "s16", "append")
        .orderBy("user_id", "p_id")
    }),

    // ---- streaming per-key admission quota: the first 3 view events
    // per user pass, the rest drop — the per-domain ingest budget a
    // crawl front door enforces. State = ONE counter per user; files
    // arrive time-partitioned (s17's CDC contract) and replay oldest-
    // first one per batch, so admission is the global (ts, event_id)
    // first-3 and the batch oracle is a plain row_number filter --------
    "s19_stream_quota" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.Row
      val tmp = gateScratch("s19")
      val ev = events(s, dir).filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("ts_us"))
      val Row(lo: Long, hi: Long) = ev.agg(min("ts_us"), max("ts_us")).head()
      val span = hi - lo + 1
      for (i <- 0 until 4) {
        val b0 = lo + span * i / 4
        val b1 = lo + span * (i + 1) / 4
        ev.filter(col("ts_us") >= b0 && col("ts_us") < b1)
          .coalesce(1).write.mode("append").parquet(s"$tmp/in")
        Thread.sleep(20)
      }
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
        .as[(Long, Long, Long)]
      val admitted = streaming.EventStreams.quotaAdmit(stream, n = 3)
        .toDF("user_id", "event_id", "ts_us")
      streamToTable(s, admitted.select("user_id", "event_id"), "s19", "append")
        .orderBy("user_id", "event_id")
    }),

    // ---- streaming z-score anomaly flags: purchases whose integer-cent
    // value sits > 3σ from the user's PRIOR purchase history (≥ 8
    // observations), scored with cross-multiplied integer moments — no
    // division, no sqrt, engine-exact boundary; state = 3 longs/user ----
    "s20_stream_anomaly" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.Row
      val tmp = gateScratch("s20")
      val ev = events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("ts_us"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      val Row(lo: Long, hi: Long) = ev.agg(min("ts_us"), max("ts_us")).head()
      val span = hi - lo + 1
      for (i <- 0 until 4) {
        val b0 = lo + span * i / 4
        val b1 = lo + span * (i + 1) / 4
        ev.filter(col("ts_us") >= b0 && col("ts_us") < b1)
          .coalesce(1).write.mode("append").parquet(s"$tmp/in")
        Thread.sleep(20)
      }
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
        .as[(Long, Long, Long, Long)]
      val flagged = streaming.EventStreams
        .zScoreAnomalies(stream, minHistory = 8L, theta = 3L)
        .toDF("user_id", "event_id")
      streamToTable(s, flagged, "s20", "append")
        .orderBy("user_id", "event_id")
    }),

    // ---- streaming distribution-drift monitor: per-6h-window event-
    // type mix vs the global reference mix, as an integer-ppm L1
    // distance — the data-drift alarm a training-ingest stream runs.
    // Streaming side = windowed counts (complete mode); the drift is a
    // bounded join against the broadcast reference panel ----------------
    "s18_stream_drift" -> ((s, dir) => {
      val counts = streamToTable(s,
        eventStream(s, dir)
          .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n")),
        "s18", "complete")
        .select((expr("unix_micros(w.start)") / 1000000L).cast("long")
          .as("w_start_s"), col("event_type"), col("n"))
      val ev = events(s, dir)
      val total = ev.count()
      val ref = ev.groupBy("event_type")
        .agg(expr(s"count(1) * 1000000 div $total").as("ref_ppm"))
      val wtot = counts.groupBy("w_start_s").agg(sum("n").as("wt"))
      wtot.crossJoin(broadcast(ref))
        .join(counts, Seq("w_start_s", "event_type"), "left")
        .withColumn("nn", coalesce(col("n"), lit(0L)))
        .groupBy("w_start_s")
        .agg(sum("nn").as("n_events"),
          sum(abs(expr("nn * 1000000 div wt") - col("ref_ppm"))).as("l1_ppm"))
        .orderBy("w_start_s")
    }),

    // ---- streaming SCD2 maintenance: time-range micro-batches folded
    // into a COMPACTED history by re-running scd2 over (state versions
    // re-presented as their opening observations ∪ new batch) — per-
    // batch cost O(|versions| + |batch|), never O(all observations
    // ever). Requires time-ordered arrival (the standard CDC contract),
    // arranged here by sequential range writes the file source replays
    // oldest-first. Final history must equal the q37 batch build --------
    "s17_stream_scd2" -> ((s, dir) => {
      import org.apache.spark.sql.Row
      val tmp = gateScratch("s17")
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
        col("ts").cast("long").as("tss"), col("event_type"))
      val Row(lo: Long, hi: Long) = ev.agg(min("tss"), max("tss")).head()
      val span = hi - lo + 1
      // 4 ascending time-range files written SEQUENTIALLY (strictly
      // increasing mtimes) so the file source replays them in order
      for (i <- 0 until 4) {
        val b0 = lo + span * i / 4
        val b1 = lo + span * (i + 1) / 4
        ev.filter(col("tss") >= b0 && col("tss") < b1)
          .coalesce(1).write.mode("append").parquet(s"$tmp/in")
        Thread.sleep(20)
      }
      val histSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("valid_from", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("valid_to", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("is_current", org.apache.spark.sql.types.BooleanType)))
      var state = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], histSchema)
      withNarrowState(s) {
        val q = s.readStream
          .schema(ev.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // versions re-enter as their opening observation; scd2's
            // consecutive-same-attr collapse extends an open version
            // when the first new observation repeats its attrs
            val stateObs = state.select(col("user_id"), col("event_id"),
              col("valid_from").as("tss"), col("event_type"))
            state = ops.Merge.scd2(
                stateObs.unionAll(
                  batch.select("user_id", "event_id", "tss", "event_type")),
                "user_id", "tss", "event_id", Seq("event_type"))
              .select("user_id", "event_id", "event_type",
                "valid_from", "valid_to", "is_current")
              .localCheckpoint(eager = true) // sever the micro-batch source
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      state.orderBy("user_id", "valid_from", "event_id")
    }),

    // ---- state API v2 TTL expiry: event-time timers drop idle keys
    // from the RocksDB store. Each user's purchase aggregate re-arms an
    // idle timer at lastTs + 2 days; once the watermark (max event time,
    // 0s delay) passes a timer, the key's state is cleared and a final
    // "exp" row is emitted — so the gate proves state actually LEAVES
    // the store, with a batch oracle: expired = last purchase more than
    // 2 days behind the global max. Single data batch + the no-data
    // timer batch keeps emissions deterministic -------------------------
    "s11_stream_ttl_expiry" -> ((s, dir) => {
      import s.implicits._
      val tmp = gateScratch("s11")
      val purchases = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      purchases.write.parquet(s"$tmp/in")
      val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try withNarrowState(s) {
        val stream = s.readStream
          .schema(purchases.schema)
          .parquet(s"$tmp/in")
          .withWatermark("ts", "0 seconds")
          .as[(Long, java.sql.Timestamp, Double)]
        val out = stream.groupByKey(_._1)
          .transformWithState(
            new streaming.IdleExpiryProcessor(ttlMs = 2L * 86400000L),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            org.apache.spark.sql.streaming.OutputMode.Update())
        val q = out.toDF("user_id", "kind", "n", "total_cents")
          .writeStream.format("memory").queryName("graft_s11_out")
          .outputMode("update")
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      s.table("graft_s11_out").orderBy("user_id", "kind")
    }),

    // ---- lossy-codec tolerance: the jpeg branch (m1 nulls its mean out
    // because lossy decode has no exact oracle) gets runtime evidence
    // via BANDED fidelity — real encode → real decode → per-pixel and
    // whole-image (DC) deltas against the closed-form source, quantized
    // into bands with ≥3× margin over the measured worst case (dc ≤
    // 1.25 → band /4; pixel MAD ≤ 8.2 → band /24, probed over all
    // dim/phase residues). A broken decode reads ~127 mean delta →
    // bands 31/5, so the all-zeros oracle still discriminates ----------
    "m9_jpeg_lossy" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") % 3 === 1) // the jpeg branch of syntheticMedia
      val media = ops.Multimodal.syntheticMedia(ids, "doc_id")(s)
      ops.Multimodal.decodeFidelity(media,
          (id, x, y) => ops.Multimodal.MediaGen.grayAt(id, x, y)).toDF()
        .select(col("media_id"), col("width"), col("height"),
          floor(col("dc_delta") / 4).cast("int").as("dc_band"),
          floor(col("pixel_mad") / 24).cast("int").as("mad_band"))
        .orderBy("media_id")
    }),

    // ---- perceptual image hashing: real PNG decode → 9×8 grid → 64-bit
    // dHash, the key for Hamming-banded image near-dup joins ------------
    "m4_image_dhash" -> ((s, dir) => {
      val pngs = ops.Multimodal.syntheticMedia(
        t(s, dir, "documents").select("doc_id").filter(col("doc_id") % 3 === 0),
        "doc_id")(s)
      ops.Multimodal.dhashFeatures(pngs).toDF()
        .orderBy("media_id")
    }),

    // ---- S1/K1 through a THIRD columnar format: write ORC, read it
    // back, aggregate — checked against the parquet-derived oracle ------
    "q58_orc_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val tmp = gateScratch("orc")
      val params = io.SourceParams("orc", Some(s"$tmp/customer"))
      io.DataFrameIO.write(t(s, dir, "customer"), params)
      io.DataFrameIO.load(params)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"))
        .orderBy("c_nationkey")
    }),

    // ---- audio near-dup pairs: real RIFF/WAV decode → 60-bit energy-
    // contour hash → pigeonhole Hamming banding → exact verification.
    // Twin offset 1638400 = lcm-aligned (25·65536, divisible by 800) so
    // twins decode to IDENTICAL PCM — exact audio dups hamming 0 --------
    "m7_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") % 3 === 2)
      val ids = base.unionAll(base.select((col("doc_id") + 1638400L).as("doc_id")))
      val wavs = ids.select(col("doc_id").cast("long").as("id")).as[Long]
        .map { id =>
          val n = (id % 800 + 8).toInt
          ops.Multimodal.MediaRecord(id, ops.Multimodal.MediaGen.wavChirp(id, n),
            ops.Multimodal.MediaMeta("wav", 0, 0,
              n.toLong * 1000 / ops.Multimodal.MediaGen.sampleRate))
        }
      val hashes = ops.Multimodal.audioHashFeatures(wavs).toDF()
      ops.Dedup.hammingPairs64(hashes, "media_id", "ahash", maxHamming = 3)
        .orderBy("id1", "id2")
    }),

    // ---- avro round-trip through the generic reader/writer (S6):
    // Spark 4.1 bundles the avro connector in spark-sql --------------
    "q64_avro_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val params = io.SourceParams("avro", Some(s"$gateTmp/avro-supplier"))
      // repeat invocations collide on the fixed path and uniquePath (K2)
      // suffixes — load the path actually written, not the requested one
      val written = io.DataFrameIO.write(t(s, dir, "supplier"), params)
      io.DataFrameIO.load(params.copy(path = Some(written)))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"))
        .orderBy("s_nationkey")
    }),

    // ---- xml round-trip through the generic reader/writer (S5): the
    // last §2 data source to travel end-to-end in a gate (Spark 4 ships
    // the xml datasource natively; reference exercises xml e2e in
    // DatasetComparatorJobSuite.scala:248-255). Inferred types on the
    // way back differ from parquet's (bigint/double), so the aggregate
    // casts explicitly --------------------------------------------------
    "q66_xml_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val src = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 50 === 0)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      val params = io.SourceParams("xml", Some(s"$gateTmp/xml-li"),
        Map("rowTag" -> "li"))
      val written = io.DataFrameIO.write(src, params)
      io.DataFrameIO.load(params.copy(path = Some(written)))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- fixed-width round-trip (S8, the reference's remaining raw
    // format, README.md:65): a lineitem subset is serialized to
    // fixed-width text (integers right-aligned, quantity pinned to
    // decimal(18,2) before formatting so the text is lossless), written
    // through the generic text sink, read back via FixedWidth.load's
    // substring slicing over the line scan, cast, and aggregated --------
    "q67_fixedwidth_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val line = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 40 === 0)
        .select(concat(
          lpad(col("l_orderkey").cast("string"), 12, " "),
          lpad(col("l_linenumber").cast("string"), 2, " "),
          rpad(col("l_returnflag"), 1, " "),
          lpad(col("l_quantity").cast("decimal(18,2)").cast("string"), 12, " ")
        ).as("value"))
      val written = io.DataFrameIO.write(line,
        io.SourceParams("text", Some(s"$gateTmp/fw-li")))
      io.FixedWidth.load(written, Seq(
          "l_orderkey" -> 12, "l_linenumber" -> 2,
          "l_returnflag" -> 1, "l_quantity" -> 12))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_orderkey").cast("bigint")).as("sum_ok"),
          max(col("l_linenumber").cast("int")).as("max_ln"))
        .orderBy("l_returnflag")
    }),

    // ---- csv round-trip (S2) with CLI option pass-through: a lineitem
    // subset travels write → csv files (custom delimiter + header) →
    // CLI-shaped args (--format/--delimiter/--header, the reference's
    // DatasetComparatorJobSuite.scala:40-47 surface) → CliParametersParser
    // → generic reader → aggregate. Quantity is pinned to decimal(18,2)
    // BEFORE the text write so the csv is lossless, same as q67 ---------
    "q71_csv_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val src = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 40 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("l_quantity"))
      val written = io.DataFrameIO.write(src,
        io.SourceParams("csv", Some(s"$gateTmp/csv-li"),
          Map("delimiter" -> "|", "header" -> "true")))
      val cliParams = cli.CliParametersParser.parse(Array(
        "--format", "csv", "--delimiter", "|", "--header", "true",
        "--ref-path", written, "--new-path", written,
        "--out-path", s"$gateTmp/csv-li-out"))
      io.DataFrameIO.load(cliParams.actual)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_orderkey").cast("bigint")).as("sum_ok"),
          max(col("l_linenumber").cast("int")).as("max_ln"))
        .orderBy("l_returnflag")
    }),

    // ---- corrupt-record quarantine (PERMISSIVE ingest): a JSONL dump
    // with a deterministic 1-in-10 corruption pattern reads back
    // through the schema'd json source with a _corrupt_record side
    // channel — bad rows quarantine with their raw text instead of
    // failing the scan or silently dropping, the production ingest
    // pattern for untrusted feeds. Good rows aggregate normally -------
    "q68_corrupt_quarantine" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val lines = t(s, dir, "orders").select(
        when(col("o_orderkey") % 10 === 7,
          concat(lit("{\"k\":"), col("o_orderkey").cast("string"), lit(" BROKEN")))
          .otherwise(concat(lit("{\"k\":"), col("o_orderkey").cast("string"),
            lit(",\"v\":"), (col("o_orderkey") * 3).cast("string"), lit("}")))
          .as("value"))
      val written = io.DataFrameIO.write(lines,
        io.SourceParams("text", Some(s"$gateTmp/quarantine-jsonl")))
      // the parse is CACHED before deriving streams: Spark rejects any
      // query whose pruned raw-JSON scan references ONLY the corrupt
      // column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — a count() over this
      // aggregate prunes the sums away and trips exactly that. The cache
      // is also the production quarantine shape: parse once, then split
      // into clean + quarantined streams from the materialized result
      val parsed = s.read
        .schema("k long, v long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(written)
        .cache()
      parsed.select(col("_corrupt_record").isNotNull.as("quarantined"),
          col("k"), col("v"))
        .groupBy("quarantined")
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          sum(col("v")).as("sum_v"))
        .orderBy("quarantined")
    }),

    // ---- jdbc round-trip through the generic reader/writer (S7):
    // Spark's distro bundles Derby, so an embedded in-memory database
    // exercises the real jdbc save()/load() branches (reference
    // `dataFrame/Utils.scala:30-32`) with zero network. ONE db per JVM
    // (in-memory Derby dbs live for the JVM lifetime) with
    // saveMode=overwrite, so bench reps replace the table in place
    // instead of growing driver memory with a fresh db each rep --------
    "q65_jdbc_roundtrip" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val params = io.SourceParams("jdbc", None, Map(
        "url" -> "jdbc:derby:memory:graftq65;create=true",
        "driver" -> "org.apache.derby.iapi.jdbc.AutoloadedDriver",
        "dbtable" -> "customer_rt"), saveMode = Some("overwrite"))
      io.DataFrameIO.write(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal"),
        params)
      io.DataFrameIO.load(params)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"))
        .orderBy("c_mktsegment")
    }),

    // ---- image near-dup pairs: dHash → pigeonhole Hamming banding →
    // exact verification; twins at +768192 share every image modulus
    // except a +64 gray shift, so some land within hamming 3 ------------
    "m5_image_neardup" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") % 3 === 0)
      val ids = base.unionAll(base.select((col("doc_id") + 768192L).as("doc_id")))
      val hashes = ops.Multimodal.dhashFeatures(
        ops.Multimodal.syntheticMedia(ids, "doc_id")(s)).toDF()
      ops.Dedup.hammingPairs64(hashes, "media_id", "dhash", maxHamming = 3)
        .orderBy("id1", "id2")
    }),

    // ---- corpus-realistic image near-dup: many docs embed the SAME
    // asset (payloads collide via gen = f(doc_id), clusters of ~7 docs
    // at sf0.01), so the exact-dup pre-collapse guard — one min-id
    // representative per distinct payload fingerprint — MUST run before
    // banding (hammingPairs64's recall bound); the +768192 gen twins
    // then surface as cross-cluster near-dup pairs of representatives --
    "m8_image_neardup_collapsed" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val base = t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") % 3 === 0)
      val r138 = pmod(col("doc_id"), lit(138))
      val ids = base.withColumn("gen",
        when(r138 < 69, r138).otherwise(r138 - 69 + 768192))
      val media = ops.Multimodal.syntheticMediaFrom(ids, "doc_id", "gen")
      // payload fingerprint AND perceptual hash from ONE partition-side
      // decode pass, so the collapse shuffles (fp, id, dhash) — bytes
      // never cross an exchange (the library's multimodal posture);
      // within an fp group payloads are identical, so first(dhash) is a
      // value, not an order dependence
      val feats = ops.Multimodal.dhashWithFingerprint(media).toDF()
      val reps = feats.groupBy("fp")
        .agg(min(col("media_id")).as("media_id"), first(col("dhash")).as("dhash"))
      ops.Dedup.hammingPairs64(reps, "media_id", "dhash", maxHamming = 3)
        .orderBy("id1", "id2")
    }),

    // ---- hierarchy root/depth via pointer doubling (the distributed
    // recursive CTE): random recursive tree over the orderkey spine -----
    "q60_hierarchy" -> ((s, dir) => {
      val keys = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k")).distinct()
      val parents = keys.select(col("k").as("node"),
        when(col("k") === 1, col("k"))
          .otherwise(lit(1L) + pmod(
            graft.functions.TextFunctions.h64(
              concat(lit("graft-tree-"), col("k").cast("string"))),
            col("k") - 1)).as("parent"))
      ops.Hierarchy.rootAndDepth(parents, "node", "parent")
        .groupBy("depth")
        .agg(count(lit(1)).as("n_nodes"),
          min("node").as("min_node"), max("node").as("max_node"))
        .orderBy("depth")
    }),

    // ---- running distinct-count per user: first-occurrence flags + a
    // prefix sum — the portable form of COUNT(DISTINCT) OVER ------------
    "q59_running_distinct" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir).filter(col("user_id") % 5 === 0)
      val w1 = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val w2 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("fs",
          when(row_number().over(w1) === 1, lit(1L)).otherwise(lit(0L)))
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
          sum("fs").over(w2).as("n_distinct_types"))
        .orderBy("user_id", "event_id")
    }),

    // ---- DAG longest-path layering (topological levels): ascending
    // +3 chains inside 30-key blocks with +7 cross-links at %5 — acyclic
    // by construction, longest chain ≤ 10 edges so 12 rounds reach the
    // fixed point the recursive-CTE oracle defines ----------------------
    "g10_toposort" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("k"),
          expr("o_orderkey div 30").cast("long").as("blk"))
      val a = o.select(col("k").as("src"), col("blk").as("sblk"))
      val b = o.select(col("k").as("dst"), col("blk").as("dblk"))
      val step = a.join(b,
          col("dst") === col("src") + 3 && col("sblk") === col("dblk"))
        .select("src", "dst")
      val hop = a.filter(col("src") % 5 === 0).join(b,
          col("dst") === col("src") + 7 && col("sblk") === col("dblk"))
        .select("src", "dst")
      ops.Graph.longestPathLayers(step.unionAll(hop), "src", "dst",
          iterations = 12)
        .orderBy("node")
    }),

    // ---- inverse-degree link prediction (Resource Allocation index)
    // over the supplier–part bipartite graph: selective shared
    // neighbors score high, hubs over the degree cap drop with an
    // audit — same bounded-pair-shuffle contract as g9 -------------------
    "g11_link_predict" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_partkey") % 20 === 0)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey").cast("long") + 1000000L).as("dst"))
      val (pairs, _) = ops.Graph.resourceAllocationScores(edges, "src", "dst",
        minScore = 80000L, maxDeg = 25L)
      pairs.orderBy("a", "b")
    }),

    // ---- max concurrent intervals per group: the +1/−1 boundary sweep
    // reduced to per-day nets FIRST (≤ groups × dates rows — calendar-
    // bounded, so the running-sum window runs over planner-scale data,
    // never over the raw fact table) ------------------------------------
    "q83_max_concurrent" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders").select(col("o_orderpriority"),
        col("o_orderdate").cast("date").as("d0"),
        date_add(col("o_orderdate").cast("date"),
          (col("o_orderkey") % 30 + 1).cast("int")).as("d1"))
      // half-open [d0, d1): the close lands ON d1, so a same-day
      // close+open nets to zero before the running sum ever sees it
      val evs = o.select(col("o_orderpriority"), col("d0").as("d"),
          lit(1L).as("delta"))
        .unionAll(o.select(col("o_orderpriority"), col("d1").as("d"),
          lit(-1L).as("delta")))
      val daily = evs.groupBy("o_orderpriority", "d")
        .agg(sum("delta").as("net"))
      val w = Window.partitionBy("o_orderpriority").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("open", sum("net").over(w))
        .groupBy("o_orderpriority").agg(max("open").as("max_open"))
        .orderBy("o_orderpriority")
    }),

    // ---- header-only media catalogue: format from magic bytes,
    // dims/duration from container headers — NO pixel/sample decode
    // (the 100 TB triage pass; spec pins truncated-payload behavior) ----
    "m13_header_probe" -> ((s, dir) => {
      val media = ops.Multimodal.syntheticMedia(
        t(s, dir, "documents").select("doc_id"), "doc_id")(s)
      ops.Multimodal.headerFeatures(media).toDF()
        .orderBy("media_id")
    }),

    // ---- envelope segmentation: maximal runs of PCM blocks whose
    // mean clears the threshold, over the m11 block envelope — the
    // silence-split islands pass. −20000 sits at the fixture
    // envelope's median, so ~half the blocks qualify and real
    // multi-block islands form; the mean is ONE IEEE division of an
    // integer sum, identical cross-engine --------------------------------
    "m14_audio_segments" -> ((s, dir) => {
      val media = ops.Multimodal.syntheticMedia(
        t(s, dir, "documents").select("doc_id"), "doc_id")(s)
      ops.Multimodal.envelopeSegments(media, blockSize = 64,
          threshold = -20000.0)
        .orderBy("media_id", "start_block")
    }),

    // ---- BUILT-IN session windows (vs s4's custom state): the
    // session_window grouped aggregation merges events closer than the
    // gap engine-side; complete mode needs no watermark closure, so
    // every session emits and the gaps-and-islands oracle holds -------
    "s21_stream_session_window" -> ((s, dir) => {
      val stream = eventStream(s, dir).filter(col("user_id") % 10 === 0)
      val agg = stream
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("total"))
        .select(col("user_id"),
          unix_millis(col("session_window.start")).as("start_ms"),
          unix_millis(col("session_window.end")).as("end_ms"),
          col("n_events"), col("total"))
      streamToTable(s, agg, "s21", "complete").orderBy("user_id", "start_ms")
    }),

    // ---- streaming bounded top-k: foreachBatch merges each
    // micro-batch into an O(groups·k) leaderboard via the bounded-heap
    // TopK aggregate — top-k merge is associative/commutative, so the
    // fold is batch-order independent and equals the global answer ----
    "s22_stream_topk" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val tmp = gateScratch("s22")
      val purchases = s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_type") === "purchase")
        .select(pmod(col("user_id"), lit(16)).as("grp"),
          col("value"), col("event_id"))
      purchases.withColumn("shard", pmod(col("event_id"), lit(4)))
        .repartition(4, col("shard"))
        .write.parquet(s"$tmp/in") // 4 files → 4 micro-batches
      val stateSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("grp",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType)))
      var state = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
      withNarrowState(s) {
        val q = s.readStream
          .schema(purchases.withColumn("shard",
            pmod(col("event_id"), lit(4))).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            state = ops.TopK.perGroup(
                state.unionAll(batch.select("grp", "value", "event_id")),
                Seq("grp"), Seq(col("value"), col("event_id")), k = 3)
              .select("grp", "value", "event_id")
              .localCheckpoint(eager = true) // sever the micro-batch source
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      ops.TopK.perGroup(state, Seq("grp"),
          Seq(col("value"), col("event_id")), k = 3)
        .orderBy("grp", "rank")
    }),

    // ---- IVF list rebalance: inverted lists over the 64-member cap
    // split on a deterministic farthest-point seed pair (A = min-id
    // member, B = least-similar to A); members move to B only when
    // STRICTLY closer, untouched lists are not rewritten — the
    // index-health maintenance pass a drifting vector store runs ------
    "e23_ivf_rebalance" -> ((s, dir) => {
      val idx = ops.Similarity.ivfIndexSeeded(
        t(s, dir, "embeddings"), "vec_id", "embedding", nlist = 8)
      val (idx2, _) = idx.rebalance(maxList = 64L)
      idx2.assigned.select(col("id"), col("cell")).orderBy("id")
    }),

    // ---- n-gram novelty vs the corpus prefix: distinct shingles of
    // each doc first seen in NO earlier doc — the duplication-scoring
    // sibling of dedup; counts stay integer-exact, only (hash, id)
    // longs shuffle ------------------------------------------------------
    "d51_ngram_novelty" -> ((s, dir) => {
      ops.CorpusOps.noveltyCounts(t(s, dir, "documents"),
          "doc_id", "text", shingleSize = 3)
        .orderBy("doc_id")
    }),

    // ---- per-group OLS trend (price drift per priority): four decimal
    // moments in ONE hash aggregate, slope = one IEEE division of two
    // cross-engine-agreed exact values — q78's arithmetic posture ------
    "q84_group_trend" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderpriority"),
        datediff(col("o_orderdate").cast("date"),
          to_date(lit("1970-01-01"))).cast("long").as("x"),
        col("o_totalprice").cast("decimal(18,2)").as("y"))
      o.groupBy("o_orderpriority").agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"),
          sum("y").cast("decimal(38,2)").as("sy"),
          sum(col("x") * col("y")).cast("decimal(38,2)").as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("o_orderpriority"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope"))
        .orderBy("o_orderpriority")
    }),

    // ---- star-schema rollup (TPC-H Q5 shape): the fact-fact join
    // shuffles on its key, the dimension chain broadcasts (nation and
    // region are planner-scale at ANY corpus size; plan-asserted in
    // StarJoinPlanSpec) — revenue per region per order year ------------
    "q85_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("rev"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate").cast("date")).as("yr"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey"))
      val r = t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "yr")
        .agg(count(lit(1)).as("n_items"),
          sum("rev").cast("double").as("revenue"))
        .orderBy("r_name", "yr")
    }),

    // ---- incremental JOIN-view maintenance: V' = (V ∖ affected) ∪
    // (A'|affected ⋈ B') — a dimension update re-derives only its fact
    // rows, fact deletes vanish via the anti-join; the gate holds the
    // incremental result to the full-rebuild oracle --------------------
    "q86_incremental_join_view" -> ((s, dir) => {
      def o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      def c = t(s, dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val upd = o.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 10.0).as("o_totalprice"),
          lit(false).as("is_delete"))
      val dels = o.filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          lit(true).as("is_delete"))
      val ins = o.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 10000000).as("o_orderkey"),
          col("o_custkey"), lit(1.0).as("o_totalprice"),
          lit(false).as("is_delete"))
      val dA = upd.unionAll(dels).unionAll(ins)
      val aNew = ops.Merge.applyChanges(o, dA, "o_orderkey")
      val dB = c.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"), col("c_nationkey"),
          (col("c_acctbal") + 5.0).as("c_acctbal"), lit(false).as("is_delete"))
      val bNew = ops.Merge.applyChanges(c, dB, "c_custkey")
        .withColumnRenamed("c_custkey", "o_custkey")
      val view = o.join(c, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "c_acctbal", "c_nationkey")
      ops.Merge.incrementalJoinView(view, aNew, bNew,
          dA.select("o_orderkey"),
          dB.select(col("c_custkey").as("o_custkey")),
          "o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    }),

    // ---- dynamic partition pruning: the fact side is partitioned on
    // the join key and the dim predicate is RUNTIME-VALUED (the rarest
    // event type by count — a literal filter would constant-propagate
    // onto the scan and prune statically), so the fact scan must prune
    // via the DPP subquery (plan-asserted in DynamicPruningPlanSpec) ---
    "q87_dynamic_pruning" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = gateScratch("q87")
      val ev = events(s, dir)
      ev.write.mode("overwrite").partitionBy("event_type").parquet(p)
      val fact = s.read.parquet(p)
      val w = Window.orderBy(col("dim_n"), col("event_type"))
      val dim = ev.groupBy("event_type").agg(count(lit(1)).as("dim_n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select("event_type")
      fact.join(dim, Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,3)")).cast("double").as("total"))
        .orderBy("event_type")
    }),

    // ---- cross-group shingle-overlap matrix: distinct (lang, hash)
    // FIRST, so a universal shingle fans out to C(#langs,2) pairs, not
    // a per-doc cross product — the corpus contamination audit ---------
    "d52_overlap_matrix" -> ((s, dir) => {
      ops.CorpusOps.overlapMatrix(t(s, dir, "documents"),
          "lang", "text", shingleSize = 3)
        .orderBy("grp_a", "grp_b")
    }),

    // ---- STREAMING join-view maintenance: dimension updates arrive as
    // a 4-shard stream; each micro-batch refreshes the materialized
    // orders⋈customer view via the q86 delta-join rule — per-batch cost
    // O(batch's fact rows), the view is never rebuilt ------------------
    "s23_stream_view_refresh" -> ((s, dir) => {
      val tmp = gateScratch("s23")
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val c = t(s, dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val updates = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_nationkey"),
          (col("c_acctbal") + 7.0).as("c_acctbal"))
      updates.withColumn("shard", pmod(col("c_custkey"), lit(4)))
        .repartition(4, col("shard"))
        .write.parquet(s"$tmp/in") // 4 files → 4 micro-batches
      var view = o.join(c, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "c_acctbal", "c_nationkey")
        .localCheckpoint(eager = true)
      var bCur = c.localCheckpoint(eager = true)
      val noAKeys = o.select("o_orderkey").filter(lit(false))
      withNarrowState(s) {
        val q = s.readStream
          .schema(updates.withColumn("shard",
            pmod(col("c_custkey"), lit(4))).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val dB = batch.select("c_custkey", "c_nationkey", "c_acctbal")
              .withColumn("is_delete", lit(false))
            bCur = ops.Merge.applyChanges(bCur, dB, "c_custkey")
              .localCheckpoint(eager = true) // sever the micro-batch source
            view = ops.Merge.incrementalJoinView(view, o,
                bCur.withColumnRenamed("c_custkey", "o_custkey"),
                noAKeys, dB.select(col("c_custkey").as("o_custkey")),
                "o_orderkey", "o_custkey")
              .localCheckpoint(eager = true)
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      view.orderBy("o_orderkey")
    }),

    // ---- time-series gap detection: per-type hourly spine generated
    // from observed bounds (calendar-bounded — never a fact-table
    // explode), anti-joined against observed hours ----------------------
    "q88_gap_detect" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      val observed = ev.distinct()
      val spine = ev.groupBy("event_type")
        .agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"),
            expr("INTERVAL 1 HOUR"))).as("h"))
      spine.join(observed, Seq("event_type", "h"), "left_anti")
        .orderBy("event_type", "h")
    }),

    // ---- media corruption triage: header-parse + strict-decode verdict
    // per payload (ok / header_only / unparseable) — the quarantine
    // pass; corruption is a VERDICT row, never an executor exception ----
    "m15_media_triage" -> ((s, dir) => {
      import s.implicits._
      val media = ops.Multimodal.syntheticMedia(
        t(s, dir, "documents").select("doc_id"), "doc_id")(s)
        .map { r =>
          if (r.media_id % 13 == 0)
            r.copy(content = Array.fill(16)(0x00.toByte)) // garbage
          else if (r.media_id % 7 == 0 && r.media_id % 3 != 1)
            // truncate png/wav to their headers (jpeg header size is
            // encoder-dependent, so jpeg stays intact)
            r.copy(content =
              r.content.take(if (r.media_id % 3 == 0) 32 else 44))
          else r
        }
      ops.Multimodal.triageFeatures(media).toDF().orderBy("media_id")
    }),

    // ---- recall-vs-nprobe sweep: the IVF tuning curve (probe 1/2/4 of
    // 8 cells against the exact top-5) — the eval a store runs before
    // committing a latency/recall tradeoff; recall must be monotone ----
    "e24_recall_sweep" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val idx = ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding",
        nlist = 8)
      val v = emb.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      val q = v.filter(col("id") < 50)
        .select(col("id").as("qid"), col("v").as("qv"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val exact = v.crossJoin(broadcast(q))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id").as("nid"),
          ops.Similarity.cosine(col("v"), col("qv")).as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid").as("id"), col("nid"))
        .ckpt // one ground truth, three sweeps
      Seq(1, 2, 4).map { np =>
        idx.knnJoin(k = 5, nprobe = np)
          .filter(col("id") < 50).select("id", "nid")
          .join(exact, Seq("id", "nid"))
          .agg(count(lit(1)).as("n_match"))
          .select(lit(np).as("nprobe"), col("n_match"),
            lit(50L).as("n_queries"))
      }.reduce(_ unionAll _).orderBy("nprobe")
    }),

    // ---- exact-proportion stratified split: exactly floor(n/20) docs
    // per language, membership a pure function of (salt, id) — the
    // reproducible eval-split cut (d49 is the zero-shuffle expected-
    // proportion sibling) -----------------------------------------------
    "d53_stratified_split" -> ((s, dir) => {
      ops.CorpusOps.stratifiedExact(
          t(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id", num = 1, den = 20, salt = "graft-split-")
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    }),

    // ---- token-budget source mixing: the hard-quota data recipe ("N
    // tokens of src0, M of src1, ...") as an exact greedy-prefix filter;
    // two-phase bucket selection keeps a popular source off the single-
    // reducer window (CorpusOps.budgetedMix scaladoc); sources with no
    // budget are dropped entirely ---------------------------------------
    "d55_budget_mix" -> ((s, dir) => {
      import s.implicits._
      val budgets = (0 until 10).map(k => (s"src$k", 120L + 137L * k))
        .toDF("source", "budget")
      ops.CorpusOps.budgetedMix(t(s, dir, "documents"),
          "doc_id", "text", "source", budgets, bucketSize = 64L)
        .orderBy("doc_id")
    }),

    // ---- mixture upsampling: the per-source EPOCH plan — budget div
    // source-tokens full epochs (the "epochs elapsed" column of a
    // published LLM data-mix table), remainder admitted via the d55
    // greedy prefix for one extra epoch; exact replayable function of
    // (corpus, budgets), no sampling noise -----------------------------
    "d56_epoch_plan" -> ((s, dir) => {
      import s.implicits._
      val budgets = (0 until 20).map(k => (s"src$k", 700L + 600L * k))
        .toDF("source", "budget")
      ops.CorpusOps.epochPlan(t(s, dir, "documents"),
          "doc_id", "text", "source", budgets, bucketSize = 64L)
        .orderBy("doc_id")
    }),

    // ---- deterministic global shuffle into training shards: (shard,
    // seq) positions from the engine-portable h64 — one shuffle, rows
    // move once to their shard, and any engine replays the permutation
    // from (salt, nShards) alone ---------------------------------------
    "d57_shard_shuffle" -> ((s, dir) => {
      ops.CorpusOps.shardShuffle(
          t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", nShards = 8)
        .orderBy("shard", "seq")
    }),

    // ---- the corpus WRITE side from pure SQL: d56's epoch plan and
    // d57's shard shuffle re-run through the graft_epoch_plan /
    // graft_shard_shuffle table functions (GraftExtensions), with the
    // training recipe addressed as a persisted parquet side table —
    // the full "recipe → shards" path at a SQL prompt, same plans as
    // the Scala ops (the TVFs resolve to them) -------------------------
    "d61_sql_corpus_write" -> ((s, dir) => {
      import s.implicits._
      val tmp = gateScratch("d61")
      GraftExtensions.register(s)
      (0 until 20).map(k => (s"src$k", 700L + 600L * k))
        .toDF("source", "budget").write.parquet(s"$tmp/budgets")
      t(s, dir, "documents").select("doc_id", "text", "source")
        .write.parquet(s"$tmp/docs")
      t(s, dir, "documents").select("doc_id", "lang")
        .write.parquet(s"$tmp/docs_slim")
      val epoch = s.sql(
        s"""SELECT doc_id, source, n_tokens, n_epochs
           |FROM graft_epoch_plan('$tmp/docs', 'doc_id', 'text', 'source',
           |                      '$tmp/budgets', 64)""".stripMargin)
      val shard = s.sql(
        s"""SELECT doc_id, lang, shard, seq
           |FROM graft_shard_shuffle('$tmp/docs_slim', 'doc_id', 8)"""
          .stripMargin)
      epoch.select(lit("epoch").as("part"), col("doc_id"),
          col("source").as("tag"), col("n_tokens").as("v1"),
          col("n_epochs").as("v2"))
        .unionAll(shard.select(lit("shard").as("part"), col("doc_id"),
          col("lang").as("tag"), col("shard").cast("long").as("v1"),
          col("seq").as("v2")))
        .orderBy("part", "doc_id")
    }),

    // ---- the third corpus-write TVF: d55's token-budget mix re-run
    // through graft_budget_mix with the recipe as a parquet side table —
    // closes the coverage gap where an argument-wiring mistake in the
    // TVF builder (e.g. swapped idCol/textCol) could ship silently
    // because d61 exercised only the epoch-plan and shard-shuffle verbs
    "d62_sql_budget_mix" -> ((s, dir) => {
      import s.implicits._
      val tmp = gateScratch("d62")
      GraftExtensions.register(s)
      (0 until 10).map(k => (s"src$k", 120L + 137L * k))
        .toDF("source", "budget").write.parquet(s"$tmp/budgets")
      t(s, dir, "documents").select("doc_id", "text", "source")
        .write.parquet(s"$tmp/docs")
      s.sql(
        s"""SELECT doc_id, source, n_tokens
           |FROM graft_budget_mix('$tmp/docs', 'doc_id', 'text', 'source',
           |                      '$tmp/budgets', 64)
           |ORDER BY doc_id""".stripMargin)
    }),

    // ---- training-mix data card: per source — documents, raw tokens,
    // effective tokens under the d56 epoch plan, and the source's share
    // of the effective mix; the report every training run ships next to
    // its shards. Share stays a global-window fold over the 20-row
    // per-source aggregate — no driver collect --------------------------
    "d58_mix_report" -> ((s, dir) => {
      import s.implicits._
      val budgets = (0 until 20).map(k => (s"src$k", 700L + 600L * k))
        .toDF("source", "budget")
      val per = ops.CorpusOps.epochPlan(t(s, dir, "documents"),
          "doc_id", "text", "source", budgets, bucketSize = 64L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum(col("n_tokens") * col("n_epochs")).as("eff_tokens"))
      per.withColumn("share", col("eff_tokens").cast("double") /
          sum("eff_tokens").over(
            org.apache.spark.sql.expressions.Window.partitionBy())
            .cast("double"))
        .orderBy("source")
    }),

    // ---- pure-SQL surface: the codegen'd kernels exercised THROUGH the
    // registered SQL functions in one spark.sql text query — runtime
    // evidence that a SQL-only user gets hash-identical results ---------
    "q89_sql_surface" -> ((s, dir) => {
      GraftExtensions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_q89")
      s.sql("""
        |SELECT doc_id, lang_id(toks) AS lang_pred, simhash60(toks) AS sh,
        |  sig[0] AS sig_0, sig[1] AS sig_1, sig[2] AS sig_2, sig[3] AS sig_3
        |FROM (
        |  SELECT doc_id, toks, minhash_sig(shingle_hash64(toks, 3), 4) AS sig
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN length(trim(text)) = 0
        |           THEN CAST(array() AS ARRAY<STRING>)
        |           ELSE split(lower(regexp_replace(trim(text), '\\s+', ' ')), ' ')
        |      END AS toks
        |    FROM graft_docs_q89))
        |ORDER BY doc_id""".stripMargin)
    }),

    // ---- modality completeness audit: presence matrix across the
    // documents / embeddings / decodable-image views via two full-outer
    // joins on the id spine — the "which docs still need embeddings"
    // dashboard; output is 2^3-bounded ---------------------------------
    "m16_modality_audit" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id").as("id"), lit(1).as("has_doc"))
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), lit(1).as("has_emb"))
      val img = t(s, dir, "documents").filter(col("doc_id") % 3 =!= 2)
        .select(col("doc_id").as("id"), lit(1).as("has_img"))
      d.join(e, Seq("id"), "full_outer").join(img, Seq("id"), "full_outer")
        .withColumn("has_doc", coalesce(col("has_doc"), lit(0)))
        .withColumn("has_emb", coalesce(col("has_emb"), lit(0)))
        .withColumn("has_img", coalesce(col("has_img"), lit(0)))
        .groupBy("has_doc", "has_emb", "has_img")
        .agg(count(lit(1)).as("n"),
          min("id").as("min_id"), max("id").as("max_id"))
        .orderBy("has_doc", "has_emb", "has_img")
    }),

    // ---- STREAMING binary-file ingest + triage: real .png files (some
    // deliberately truncated/garbage) arrive through the binaryFile
    // file-stream source and are triaged in-flight — the continuous
    // crawl-ingest front door; corruption yields verdict rows, the
    // stream never dies --------------------------------------------------
    "s24_stream_media_triage" -> ((s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Paths.get(gateScratch("s24"))
      t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") % 3 === 0 && col("doc_id") < 90)
        .collect().map(_.getLong(0)).foreach { id =>
          val png = ops.Multimodal.MediaGen.image("png",
            (id % 64 + 1).toInt, (id % 48 + 1).toInt, id)
          val bytes =
            if (id % 13 == 0) Array.fill(16)(0x00.toByte)
            else if (id % 7 == 0) png.take(32)
            else png
          java.nio.file.Files.write(tmp.resolve(f"img_$id%04d.png"), bytes)
        }
      val schema = s.read.format("binaryFile").load(s"$tmp/*.png").schema
      val stream = s.readStream.format("binaryFile").schema(schema)
        .option("pathGlobFilter", "*.png").load(tmp.toString)
        .select(regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("media_id"), col("content"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) => ops.Multimodal.MediaRecord(id, bytes,
          ops.Multimodal.MediaMeta("png", 0, 0, 0L)) }
      val verdicts = ops.Multimodal.triageFeatures(stream).toDF()
      streamToTable(s, verdicts, "s24", "append").orderBy("media_id")
    }),

    // ---- AQE skew-join handling: 75% of the fact rows collapse onto
    // ONE join key, broadcast is disabled, and the skewed-partition
    // thresholds are gate-scoped so AQE must SPLIT the hot partition
    // (plan-asserted in SkewJoinPlanSpec); executed eagerly inside the
    // conf scope, restored after --------------------------------------
    "q90_aqe_skew_join" -> ((s, dir) => {
      val confs = Map(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
          "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      // eager checkpoint: the join EXECUTES while the skew confs are
      // active; the caller gets materialized rows, and the restored
      // confs cannot leak into other gates' plans
      try q90SkewJoin(s, dir).localCheckpoint(eager = true)
      finally prev.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    }),

    // ---- runtime Bloom-filter join pruning: the selective dim filter
    // is turned into a bloom filter EVALUATED ON THE FACT SCAN before
    // the shuffle (plan-asserted in RuntimeBloomPlanSpec); same
    // gate-scoped conf + eager-checkpoint pattern as q90 ----------------
    "q91_runtime_bloom" -> ((s, dir) => {
      val confs = Map(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try q91BloomJoin(s, dir).localCheckpoint(eager = true)
      finally prev.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    }),

    // ---- manifest time travel: epoch-1's stats manifest IS the v1
    // snapshot of the append-only table (immutable files, appends only
    // add) — reading its file list AS OF v1 must exclude the later
    // append, while the extended manifest sees everything --------------
    "q92_time_travel" -> ((s, dir) => {
      val tmp = gateScratch("q92")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .localCheckpoint(eager = true) // pin v1 BEFORE the append lands
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      val m2 = ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("l_orderkey"))
      def snap(m: DataFrame, v: Int): DataFrame =
        ops.Layout.snapshotRead(s, s"$tmp/t", m)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"))
          .withColumn("version", lit(v))
      snap(m1, 1).unionAll(snap(m2, 2))
        .select("version", "l_returnflag", "n_items", "sum_qty")
        .orderBy("version", "l_returnflag")
    }),

    // ---- deletion vectors: two delete waves recorded as (file, pos)
    // addresses — files never rewritten (spec proves byte-identity),
    // the merge-on-read scan subtracts them via a broadcast anti join.
    // DV tables compose by union (wave 2 lands on the same table) -------
    "q93_deletion_vectors" -> ((s, dir) => {
      val tmp = gateScratch("q93")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      val w1 = ops.Layout.deletionVectors(s, s"$tmp/t",
        col("l_returnflag") === "R")
      val w2 = ops.Layout.deletionVectors(s, s"$tmp/t",
        col("l_quantity") >= 48.0)
      val dv = w1.unionAll(w2).distinct() // waves overlap; deletes are idempotent
      ops.Layout.readWithDeletes(s, s"$tmp/t", dv)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- lake ops from PURE SQL: the table-valued registration path
    // (GraftExtensions.tableBuilders). The entire versioned read —
    // snapshot v1, snapshot v2, merge-on-read under DVs, manifest-pruned
    // range scan — is ONE spark.sql string; the Scala DSL only builds
    // the fixtures (table, manifests, DV), exactly what a writer-side
    // job would have persisted anyway ----------------------------------
    "q104_sql_lake" -> ((s, dir) => {
      val tmp = gateScratch("q104")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      // persisting the manifest pins v1 BEFORE the append lands — the
      // parquet write is the materialization barrier
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .write.parquet(s"$tmp/m1")
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      ops.Layout.extendManifest(s, s"$tmp/t",
          s.read.parquet(s"$tmp/m1"), Seq("l_orderkey"))
        .write.parquet(s"$tmp/m2")
      ops.Layout.deletionVectors(s, s"$tmp/t", col("l_returnflag") === "R")
        .write.parquet(s"$tmp/dv")
      // default mBits: graft_bloom_read probes with the defaults, and
      // index/probe mBits MUST agree or every probe misses (a saturated
      // small bloom is merely unselective — lossless — while a
      // mismatched one is lossy)
      ops.Layout.bloomIndex(s, s"$tmp/t", "l_orderkey")
        .write.parquet(s"$tmp/bloom")
      s.sql(s"""
        |SELECT CAST(1 AS INT) AS version, l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM graft_snapshot('$tmp/t', '$tmp/m1') GROUP BY 2
        |UNION ALL
        |SELECT CAST(2 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM graft_snapshot('$tmp/t', '$tmp/m2') GROUP BY 2
        |UNION ALL
        |SELECT CAST(3 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM graft_read_dv('$tmp/t', '$tmp/dv') GROUP BY 2
        |UNION ALL
        |SELECT CAST(4 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM graft_pruned('$tmp/t', '$tmp/m2', 'l_orderkey', 100, 5000)
        |GROUP BY 2
        |UNION ALL
        |SELECT CAST(5 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM graft_bloom_read('$tmp/t', '$tmp/bloom', 'l_orderkey', 1)
        |GROUP BY 2
        |UNION ALL
        |SELECT CAST(6 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM graft_snapshot_dv('$tmp/t', '$tmp/m1', '$tmp/dv')
        |GROUP BY 2
        |ORDER BY version, l_returnflag""".stripMargin)
    }),

    // ---- INTERLEAVED-writer lake sequence (one driver thread, four
    // roles taking turns): an append writer, a delete feed, and a
    // maintenance job (compaction + vacuum) interleave over one table
    // while four readers hold (manifest, DV) pins taken at different
    // points — every read must equal its oracle slice because files
    // are immutable, manifests pin file sets, and DV sets are grow-only
    // under union. This pins SNAPSHOT ISOLATION for readers against
    // interleaved writers; genuinely CONCURRENT commit safety (two
    // real threads racing the same catalog) is q145's job ------------
    "q105_lake_multiwriter" -> ((s, dir) => {
      val tmp = gateScratch("q105")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      // W1 (ingest): epoch 1 = even keys
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
      // W2 (delete feed): wave 1 lands BETWEEN the two appends, so its
      // addresses cover epoch-1 files only
      val dv1 = ops.Layout.deletionVectors(s, s"$tmp/t",
          col("l_returnflag") === "R")
        .localCheckpoint(eager = true)
      // W1 again: epoch 2 = odd keys, interleaved with the delete feed
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      val m2 = ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("l_orderkey"))
      // W2 wave 2: a quantity takedown across BOTH epochs; DV sets are
      // grow-only — waves compose by plain union
      val dv = dv1.unionAll(
          ops.Layout.deletionVectors(s, s"$tmp/t", col("l_quantity") >= 48.0))
        .distinct().localCheckpoint(eager = true)
      // W3 (maintenance): compact the deleted table into a fresh dir
      // while every reader's pins stay valid (source files untouched)
      val residual = ops.Layout.compactDeletes(s, s"$tmp/t", s"$tmp/t2", dv,
          rewriteRatio = 0.25)
        .localCheckpoint(eager = true)
      // W3b: vacuum the source with m2 retained — nothing is orphaned,
      // so nothing may be deleted (a wrong delete would break R1-R3)
      val (nDel, _) = ops.Layout.vacuumOrphans(s, s"$tmp/t", Seq(m2))
      require(nDel == 0, s"vacuum deleted $nDel manifest-tracked file(s)")
      def agg(df: DataFrame, v: Int): DataFrame = df
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .withColumn("version", lit(v))
      agg(ops.Layout.snapshotRead(s, s"$tmp/t", m1), 1) // pre-everything
        .unionAll(agg( // v1 files + wave-1 deletes
          ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t", m1, dv1), 2))
        .unionAll(agg( // the live table pre-compaction
          ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t", m2, dv), 3))
        .unionAll(agg( // compacted + residual ≡ version 3
          ops.Layout.readWithDeletes(s, s"$tmp/t2", residual), 4))
        .select("version", "l_returnflag", "n_rows", "sum_qty")
        .orderBy("version", "l_returnflag")
    }),

    // ---- manifest CREATION from pure SQL (the write-side lake
    // metadata op): graft_stats returns the per-file stats rows, so
    // `CREATE TABLE m AS SELECT * FROM graft_stats(...)` persists a
    // manifest without the Scala DSL; the gate folds it to layout-
    // independent aggregates (file count pinned by the range write) ----
    "q106_sql_stats" -> ((s, dir) => {
      val tmp = gateScratch("q106")
      GraftExtensions.register(s)
      t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      s.sql(s"""
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(n_rows) AS BIGINT) AS total_rows,
        |  MIN(min_l_orderkey) AS min_key,
        |  MAX(max_l_orderkey) AS max_key,
        |  CAST(SUM(nulls_l_orderkey) AS BIGINT) AS n_nulls
        |FROM graft_stats('$tmp/t', 'l_orderkey')""".stripMargin)
    }),

    // ---- lake BRANCHES over the manifest substrate: commits are
    // self-contained directories (Layout.commitAppend), a branch is the
    // union of its commits' manifest rows, so dev and main diverge
    // WITHOUT seeing each other's files, and merge is the fast-forward
    // file-set union (Layout.mergeBranch) — conflict-free for
    // append-only tables because files are immutable ------------------
    "q107_branch" -> ((s, dir) => {
      val tmp = gateScratch("q107")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      val sc = Seq("l_orderkey")
      def commit(pred: org.apache.spark.sql.Column) =
        ops.Layout.commitAppend(s, li.filter(pred)
            .repartitionByRange(2, col("l_orderkey")), s"$tmp/t", sc)
          .localCheckpoint(eager = true) // pin: manifests are branch state
      val base = commit(col("l_orderkey") % 4 === 0)   // shared history
      val cDev = commit(col("l_orderkey") % 4 === 1)   // dev diverges
      val cMain = commit(col("l_orderkey") % 4 === 2)  // main diverges too
      val dev = base.unionAll(cDev)
      val main = base.unionAll(cMain)
      val merged = ops.Layout.mergeBranch(main, dev)
      def agg(m: DataFrame, v: String) =
        ops.Layout.snapshotRead(s, s"$tmp/t", m)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"))
          .withColumn("branch", lit(v))
      agg(main, "main").unionAll(agg(dev, "dev")).unionAll(agg(merged, "merged"))
        .select("branch", "l_returnflag", "n_rows", "sum_qty")
        .orderBy("branch", "l_returnflag")
    }),

    // ---- layout/partition-spec EVOLUTION: epoch 1 arrives clustered
    // on k, epoch 2 on v (the Iceberg partition-evolution story — old
    // files keep their old layout forever); ONE stats manifest carries
    // min/max for BOTH columns, so a range probe on either dimension
    // prunes the epoch laid out for it and still reads everything else
    // correctly --------------------------------------------------------
    "q108_partition_evolution" -> ((s, dir) => {
      val tmp = gateScratch("q108")
      val li = t(s, dir, "lineitem").select(col("l_orderkey").as("k"),
        col("l_partkey").as("v"), col("l_quantity"))
      li.filter(col("k") % 2 === 0).repartitionByRange(4, col("k"))
        .write.parquet(s"$tmp/t")
      li.filter(col("k") % 2 === 1).repartitionByRange(4, col("v"))
        .write.mode("append").parquet(s"$tmp/t")
      val m = ops.Layout.statsManifest(s, s"$tmp/t", Seq("k", "v"))
      def agg(df: DataFrame, dim: String) = df
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .withColumn("dim", lit(dim))
      agg(ops.Layout.prunedRead(s, s"$tmp/t", m, "k", lit(100L), lit(2000L)),
          "k")
        .unionAll(agg(
          ops.Layout.prunedRead(s, s"$tmp/t", m, "v", lit(50L), lit(700L)),
          "v"))
        .select("dim", "n_rows", "sum_qty")
        .orderBy("dim")
    }),

    // ---- the BRANCH surface from pure SQL (q107+q109 semantics with
    // zero Scala DSL): each commit is one `graft_commit` statement
    // whose returned manifest rows persist as the branch state; publish
    // is `graft_merge` persisted (the WAP publish as one statement);
    // provenance is GROUP BY commit_id over `graft_lineage` — commit
    // ids are run-random, so the pinned output is each commit's
    // layout-independent slice signature --------------------------------
    "q110_sql_branch_lineage" -> ((s, dir) => {
      val tmp = gateScratch("q110")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      (0 until 3).foreach { i =>
        li.filter(col("l_orderkey") % 3 === i).write.parquet(s"$tmp/in$i")
        s.sql(s"SELECT * FROM graft_commit('$tmp/t', '$tmp/in$i', 'l_orderkey')")
          .write.parquet(s"$tmp/m$i")
      }
      s.sql(s"SELECT * FROM graft_merge('$tmp/m0', '$tmp/m1')")
        .write.parquet(s"$tmp/m01")
      s.sql(s"SELECT * FROM graft_merge('$tmp/m01', '$tmp/m2')")
        .write.parquet(s"$tmp/mAll")
      s.sql(s"""
        |SELECT COUNT(*) AS n_rows, MIN(l_orderkey) AS min_key,
        |  MAX(l_orderkey) AS max_key,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM graft_lineage('$tmp/t', '$tmp/mAll')
        |GROUP BY commit_id ORDER BY min_key""".stripMargin)
    }),

    // ---- non-invertible agg-view maintenance under deletes: MIN/MAX
    // can't fold a retraction — recompute ONLY the delete-touched
    // groups from the post-delete base, reuse the rest verbatim --------
    "q94_view_refresh_delete" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_quantity"), col("l_orderkey"))
      val view0 = base.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), min(col("l_quantity")).as("min_v"),
          max(col("l_quantity")).as("max_v"))
      val delPred = col("l_orderkey") % 50 === 0
      ops.Merge.refreshAggAfterDelete(view0, base.filter(!delPred),
          base.filter(delPred).select("l_suppkey"), "l_suppkey", "l_quantity")
        .orderBy("l_suppkey")
    }),

    // ---- seeded deterministic random walks (DeepWalk corpus): the
    // per-step pick is a salted hash of the walk identity, replayed
    // step-for-step in SQL; (src, slot) equi-join — no hub fan-out ------
    "g12_random_walks" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey").cast("long") + 1000000L).as("dst"))
        .unionAll(li.select(
          (col("l_partkey").cast("long") + 1000000L).as("src"),
          col("l_suppkey").cast("long").as("dst")))
      ops.Graph.randomWalks(edges, "src", "dst", nWalks = 2, steps = 3,
          seed = "graft-walk-g12")
        .select(col("start").as("start_node"), col("walk"), col("step"),
          col("node"))
        .orderBy("start_node", "walk", "step")
    }),

    // ---- DV compaction: files past the delete-ratio threshold rewrite
    // without their deleted rows; the rest byte-copy and keep their DV
    // rows retargeted — merge-on-read over the compacted table equals
    // the fully-deleted table -------------------------------------------
    "q96_dv_compact" -> ((s, dir) => {
      val tmp = gateScratch("q96")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      li.repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      // dense deletes on the low-key quartile (its file crosses the
      // rewrite threshold), sparse everywhere else
      val lo = li.agg(max(col("l_orderkey"))).head.getLong(0) / 4
      val pred = col("l_orderkey") < lo || col("l_orderkey") % 101 === 0
      val dv = ops.Layout.deletionVectors(s, s"$tmp/t", pred)
      val residual = ops.Layout.compactDeletes(s, s"$tmp/t", s"$tmp/out",
        dv, rewriteRatio = 0.5)
      ops.Layout.readWithDeletes(s, s"$tmp/out", residual)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- merge-on-read UPDATE: DV the old versions (pinned BEFORE the
    // append — the updated rows match the predicate too) + append the
    // updated rows; no file rewritten. Completes lake CRUD: insert
    // (append), delete (q93), update (q97), compact (q96), time travel
    // (q92) -------------------------------------------------------------
    "q97_dv_upsert" -> ((s, dir) => {
      val tmp = gateScratch("q97")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      val pred = col("l_returnflag") === "R"
      // pin the DV before the append lands, or the appended (updated)
      // rows — which still satisfy the predicate — would self-delete
      val dv = ops.Layout.deletionVectors(s, s"$tmp/t", pred)
        .localCheckpoint(eager = true)
      s.read.parquet(s"$tmp/t").filter(pred)
        .withColumn("l_quantity", col("l_quantity") + 100.0)
        .write.mode("append").parquet(s"$tmp/t")
      ops.Layout.readWithDeletes(s, s"$tmp/t", dv)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- orphan-file vacuum: files no retained manifest references are
    // GC'd; the latest snapshot reads identically before and after ------
    "q98_snapshot_gc" -> ((s, dir) => {
      val tmp = gateScratch("q98")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      val v1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .localCheckpoint(eager = true)
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      val v2 = ops.Layout.extendManifest(s, s"$tmp/t", v1, Seq("l_orderkey"))
        .localCheckpoint(eager = true)
      // a failed-task leftover: bytes in the directory, in no manifest
      val stray = new java.io.File(s"$tmp/t").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(stray.toPath,
        java.nio.file.Paths.get(s"$tmp/t/part-orphan-leftover.parquet"))
      ops.Layout.vacuumOrphans(s, s"$tmp/t", Seq(v1, v2))
      // the plain directory read now equals the latest snapshot — the
      // orphan's rows are gone, every manifest-referenced file survives
      s.read.parquet(s"$tmp/t")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- VARIANT semi-structured ingestion (Spark 4): JSON payloads
    // parse once into the binary variant encoding, fields extract
    // typed and lazily — the schema-on-read path for event payloads
    // whose shape drifts faster than any pinned struct ------------------
    "q103_variant" -> ((s, dir) => {
      val payloads = t(s, dir, "lineitem")
        .select(to_json(struct(col("l_orderkey").as("k"),
          col("l_returnflag").as("f"), col("l_quantity").as("q"),
          struct(col("l_linenumber").as("n")).as("nest"))).as("payload"))
      payloads
        .select(parse_json(col("payload")).as("v"))
        .select(
          expr("variant_get(v, '$.f', 'string')").as("flag"),
          expr("variant_get(v, '$.q', 'double')").as("qty"),
          expr("variant_get(v, '$.nest.n', 'int')").as("line"),
          expr("variant_get(v, '$.missing', 'string')").as("absent"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("qty").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("line").cast("long")).as("sum_line"),
          count(col("absent")).as("n_absent")) // missing paths → null
        .orderBy("flag")
    }),

    // ---- null-count file skipping: the manifest's third statistic —
    // an IS NOT NULL probe over a sparse column drops all-null files
    // before any footer I/O (min/max can't see WHICH files hold the
    // non-null rows) ---------------------------------------------------
    "q102_null_skipping" -> ((s, dir) => {
      val tmp = gateScratch("q102")
      // a sparse column: price survives only on 1-in-3 orders; the
      // range write clusters by the nullness flag, so whole files are
      // all-null — exactly the layout a sparse side-signal column has
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice"))
            .as("sparse_price"))
        .withColumn("has", col("sparse_price").isNotNull)
        .repartitionByRange(6, col("has"), col("o_orderkey"))
        .drop("has")
        .write.parquet(s"$tmp/t")
      val m = ops.Layout.statsManifest(s, s"$tmp/t", Seq("sparse_price"))
      ops.Layout.prunedReadNotNull(s, s"$tmp/t", m, "sparse_price")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("sparse_price").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
    }),

    // ---- streaming manifest maintenance: each ingest micro-batch
    // appends files AND folds them into the data-skipping manifest
    // (extendManifest stats NEW files only) — the lake metadata stays
    // current at O(batch) while the stream runs ------------------------
    "s28_stream_manifest_maintenance" -> ((s, dir) => {
      val tmp = gateScratch("s28")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      li.withColumn("shard", pmod(col("l_orderkey"), lit(4)))
        .repartition(4, col("shard"))
        .write.parquet(s"$tmp/in")
      // seed the table dir with its schema (an empty file the manifest
      // carries as a zero-row entry — null min/max never match a probe)
      li.limit(0).coalesce(1).write.parquet(s"$tmp/t")
      var manifest = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .localCheckpoint(eager = true)
      val inSchema = s.read.parquet(s"$tmp/in").schema
      withNarrowState(s) {
        val q = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.select("l_orderkey", "l_returnflag", "l_quantity")
              .repartitionByRange(2, col("l_orderkey"))
              .write.mode("append").parquet(s"$tmp/t")
            manifest = ops.Layout.extendManifest(s, s"$tmp/t", manifest,
                Seq("l_orderkey"))
              .localCheckpoint(eager = true)
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val hi = li.agg(max(col("l_orderkey"))).head.getLong(0) / 2
      ops.Layout.prunedRead(s, s"$tmp/t", manifest, "l_orderkey",
          lit(1L), lit(hi))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- versioned merge-on-read: a version IS (manifest, DV set) —
    // time travel over row-level mutations with zero copies; v1's DV
    // holds epoch-1 addresses only (DVs are addresses, not predicates),
    // v2 folds a second wave over both epochs ---------------------------
    "q101_versioned_deletes" -> ((s, dir) => {
      val tmp = gateScratch("q101")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .localCheckpoint(eager = true)
      val dv1 = ops.Layout.deletionVectors(s, s"$tmp/t",
          col("l_returnflag") === "R")
        .localCheckpoint(eager = true) // v1 addresses: epoch-1 files only
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      val m2 = ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("l_orderkey"))
      val dv2 = dv1.unionAll(ops.Layout.deletionVectors(s, s"$tmp/t",
        col("l_quantity") >= 48.0)) // wave 2 spans BOTH epochs
      def snap(m: DataFrame, dv: DataFrame, v: Int): DataFrame =
        ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t", m, dv)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
              .as("sum_qty"))
          .withColumn("version", lit(v))
      snap(m1, dv1, 1).unionAll(snap(m2, dv2, 2))
        .select("version", "l_returnflag", "n_rows", "sum_qty")
        .orderBy("version", "l_returnflag")
    }),

    // ---- CHANGE-DATA-FEED extraction: inserts/deletes between two
    // (manifest, DV) versions, located from the file-set diff plus the
    // DV delta — O(changed files) I/O, never two table scans, and no
    // stored change log (q101's version model read BACKWARDS) ----------
    "q114_snapshot_diff" -> ((s, dir) => {
      val tmp = gateScratch("q114")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .localCheckpoint(eager = true)
      val dv1 = ops.Layout.deletionVectors(s, s"$tmp/t",
          col("l_returnflag") === "R")
        .localCheckpoint(eager = true) // v1 addresses: epoch-1 files only
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      val m2 = ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("l_orderkey"))
      val dv2 = dv1.unionAll(ops.Layout.deletionVectors(s, s"$tmp/t",
          col("l_quantity") >= 48.0)) // wave 2 spans BOTH epochs
        .localCheckpoint(eager = true)
      ops.Layout.snapshotDiff(s, s"$tmp/t", m1, m2, dv1, dv2)
        .groupBy(col("_change_type").as("change_type"), col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("change_type", "l_returnflag")
    }),

    // ---- incremental view maintenance from the change feed: an agg
    // view rolls from version 1 to version 2 by folding q114's
    // metadata-derived diff (insert:+1 / delete:-1) through
    // incrementalAgg — refresh cost O(changed data), never a view
    // recompute, and the rolled view ≡ the direct v2 aggregate ---------
    "q117_ivm_change_feed" -> ((s, dir) => {
      val tmp = gateScratch("q117")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .localCheckpoint(eager = true)
      val dv1 = ops.Layout.deletionVectors(s, s"$tmp/t",
          col("l_returnflag") === "R")
        .localCheckpoint(eager = true)
      val view1 = ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t", m1, dv1)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("total"))
        .localCheckpoint(eager = true) // the materialized view at v1
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      val m2 = ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("l_orderkey"))
      val dv2 = dv1.unionAll(ops.Layout.deletionVectors(s, s"$tmp/t",
          col("l_quantity") >= 48.0))
        .localCheckpoint(eager = true)
      val delta = ops.Layout.snapshotDiff(s, s"$tmp/t", m1, m2, dv1, dv2)
        .withColumn("sign",
          when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)))
      ops.Merge.incrementalAgg(view1, delta, "l_returnflag",
          "l_quantity", "sign")
        .select(col("l_returnflag"), col("n").as("n_rows"),
          col("total").cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- HYBRID view maintenance for (count, sum, min, max) under a
    // MIXED changeset: count/sum fold algebraically everywhere, min/max
    // fold (least/greatest) for insert-only groups, and ONLY groups
    // holding a delete recompute from their own post-change rows — the
    // per-aggregate cheapest-correct-path routing production IVM does --
    "q119_view_refresh_hybrid" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_suppkey", "l_quantity", "l_orderkey")
      val base0 = li.filter(col("l_orderkey") % 7 =!= 0)
      val view0 = base0.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("total"),
          min(col("l_quantity")).as("min_v"),
          max(col("l_quantity")).as("max_v"))
        .localCheckpoint(eager = true) // the materialized view at v0
      // the changeset: every 7th order's rows arrive (+1), every 50th
      // order's surviving rows retract (−1) — most groups see inserts
      // only and never touch the base
      val delta = li.filter(col("l_orderkey") % 7 === 0)
        .withColumn("sign", lit(1L))
        .unionAll(base0.filter(col("l_orderkey") % 50 === 0)
          .withColumn("sign", lit(-1L)))
      val baseNew = li.filter(col("l_orderkey") % 7 === 0 ||
        col("l_orderkey") % 50 =!= 0)
      ops.Merge.refreshHybridView(view0, delta, baseNew,
          "l_suppkey", "l_quantity", "sign")
        .select(col("l_suppkey"), col("n"),
          col("total").cast("double").as("total"),
          col("min_v"), col("max_v"))
        .orderBy("l_suppkey")
    }),

    // ---- read catalog versions from pure SQL: one TVF resolves the
    // pointer's (artifact → ref) table and snapshot-reads through that
    // version's manifest, subtracting its DV set when present — v1
    // (pre-takedown, manifest only) and v2 (manifest + dv) read their
    // own consistent worlds from the same directory -------------------
    "q124_sql_catalog_read" -> ((s, dir) => {
      val tmp = gateScratch("q124")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(4, col("l_orderkey")).write.parquet(s"$tmp/t")
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .localCheckpoint(eager = true)
      m1.write.parquet(s"$tmp/m1")
      val cat = s"$tmp/catalog"
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/m1"))
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("l_orderkey"))
        .write.parquet(s"$tmp/m2")
      ops.Layout.deletionVectors(s, s"$tmp/t", col("l_quantity") >= 48.0)
        .write.parquet(s"$tmp/dv2")
      ops.Catalog.commit(s, cat,
        Map("manifest" -> s"$tmp/m2", "dv" -> s"$tmp/dv2"))
      s.sql(s"""
        |SELECT 1 AS version, l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM graft_catalog_read('$tmp/t', '$cat', 1)
        |GROUP BY l_returnflag
        |UNION ALL
        |SELECT 2 AS version, l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM graft_catalog_read('$tmp/t', '$cat', 2)
        |GROUP BY l_returnflag
        |ORDER BY version, l_returnflag""".stripMargin)
    }),

    // ---- MATERIALIZED-VIEW query rewrite: an aggregate over a catalog
    // version answers from the IVM-maintained (n,total,min_v,max_v)
    // view with ZERO base I/O — the optimizer rule matches the pinned
    // (manifest, DV) snapshot plan by canonical equivalence and
    // substitutes the O(#groups) view scan; the gate REQUIREs the
    // rewritten plan reads only the view rows, then hash-matches the
    // closed-form aggregate over the live rows ---------------------------
    "q125_mv_rewrite" -> ((s, dir) => {
      val tmp = gateScratch("q125")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      li.repartitionByRange(4, col("l_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .write.parquet(s"$tmp/m")
      ops.Layout.deletionVectors(s, s"$tmp/t", col("l_quantity") >= 48.0)
        .write.parquet(s"$tmp/dv")
      // the view definition: a DECIMAL measure (sum/avg rewrites are
      // exact-only; a raw double measure would refuse them)
      val prep = (df: DataFrame) => df.select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").as("qty"))
      ops.Merge.aggView(prep(ops.Layout.snapshotReadWithDeletes(s,
          s"$tmp/t", s.read.parquet(s"$tmp/m"), s.read.parquet(s"$tmp/dv"))),
          "l_returnflag", "qty")
        .write.parquet(s"$tmp/view")
      ops.Catalog.commit(s, s"$tmp/cat", Map("manifest" -> s"$tmp/m",
        "dv" -> s"$tmp/dv", "view" -> s"$tmp/view"))
      try {
        plans.MvRewrite.registerFromCatalog(s, "q125_li", s"$tmp/t",
          s"$tmp/cat", "l_returnflag", "qty", prep = prep)
        // a consumer-built query over the same catalog version (fresh
        // plans — matching is structural, not by reference)
        val res = prep(ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t",
            s.read.parquet(s"$tmp/m"), s.read.parquet(s"$tmp/dv")))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("double").as("sum_qty"),
            min(col("qty")).cast("double").as("min_qty"),
            max(col("qty")).cast("double").as("max_qty"))
          .orderBy("l_returnflag")
        // the gate is about the PLAN: fail loudly unless the optimized
        // plan (cached by this QueryExecution, so the driver's later
        // action reuses it) scans the view rows and never the base files
        val roots = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(roots.nonEmpty && roots.forall(_.contains("/view")),
          s"mv rewrite did not fire; scanned: ${roots.mkString(", ")}")
        res
      } finally plans.MvRewrite.unregister("q125_li")
    }),

    // ---- MV rewrite, compound key + GLOBAL rollup: one registered
    // (day × status)-keyed view answers BOTH the grouped dashboard (any
    // grouping order) and the table-wide panel — the global rewrite is
    // ONE aggregate over the O(#groups) view rows (Σn, Σtotal,
    // min(min_v), max(max_v)), exact because the panel is decomposable;
    // the gate REQUIREs the union plan never scans a base file ----------
    "q127_mv_rollup" -> ((s, dir) => {
      val tmp = gateScratch("q127")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity")
      li.repartitionByRange(4, col("l_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .write.parquet(s"$tmp/m")
      ops.Layout.deletionVectors(s, s"$tmp/t", col("l_quantity") >= 48.0)
        .write.parquet(s"$tmp/dv")
      val prep = (df: DataFrame) => df.select(col("l_returnflag"),
        col("l_linestatus"),
        col("l_quantity").cast("decimal(18,2)").as("qty"))
      def snap() = prep(ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t",
        s.read.parquet(s"$tmp/m"), s.read.parquet(s"$tmp/dv")))
      ops.Merge.aggView(snap(), Seq("l_returnflag", "l_linestatus"), "qty")
        .write.parquet(s"$tmp/view")
      ops.Catalog.commit(s, s"$tmp/cat", Map("manifest" -> s"$tmp/m",
        "dv" -> s"$tmp/dv", "view" -> s"$tmp/view"))
      try {
        plans.MvRewrite.registerFromCatalogKeys(s, "q127_li", s"$tmp/t",
          s"$tmp/cat", Seq("l_returnflag", "l_linestatus"), "qty",
          prep = prep)
        // grouped panel, grouping order REVERSED vs the registration
        val grouped = snap().groupBy("l_linestatus", "l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("double").as("sum_qty"),
            min(col("qty")).cast("double").as("min_qty"),
            max(col("qty")).cast("double").as("max_qty"))
          .select(lit("group").as("scope"),
            concat(col("l_returnflag"), col("l_linestatus")).as("grp"),
            col("n_rows"), col("sum_qty"), col("min_qty"), col("max_qty"))
        // table-wide panel: rolls up from the same view rows
        val global = snap().agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("double").as("sum_qty"),
            min(col("qty")).cast("double").as("min_qty"),
            max(col("qty")).cast("double").as("max_qty"))
          .select(lit("all").as("scope"), lit("*").as("grp"),
            col("n_rows"), col("sum_qty"), col("min_qty"), col("max_qty"))
        val res = grouped.unionAll(global).orderBy("scope", "grp")
        val roots = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(roots.nonEmpty && roots.forall(_.endsWith("/view")),
          s"mv rollup rewrite did not fire; scanned: ${roots.mkString(", ")}")
        res
      } finally plans.MvRewrite.unregister("q127_li")
    }),

    // ---- TIME-TRAVEL dashboards through the MV rewrite: two catalog
    // versions registered SIMULTANEOUSLY — v2's view rolled forward
    // from v1's by the hybrid IVM fold, never recomputed — and each
    // version's re-aggregation answers from ITS OWN view (the version
    // pin is the matched plan, so the two registrations cannot
    // cross-talk); the gate REQUIREs the union never scans a base file -
    "q128_mv_versions" -> ((s, dir) => {
      val tmp = gateScratch("q128")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      val prep = (df: DataFrame) => df.select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").as("qty"))
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(4, col("l_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .write.parquet(s"$tmp/m1")
      val m1 = s.read.parquet(s"$tmp/m1")
      ops.Layout.deletionVectors(s, s"$tmp/t", col("l_returnflag") === "R")
        .write.parquet(s"$tmp/dv1") // v1 wave: epoch-1 files only
      val dv1 = s.read.parquet(s"$tmp/dv1")
      ops.Merge.aggView(prep(ops.Layout.snapshotReadWithDeletes(s,
          s"$tmp/t", m1, dv1)), "l_returnflag", "qty")
        .write.parquet(s"$tmp/view1")
      val cat = s"$tmp/cat"
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/m1",
        "dv" -> s"$tmp/dv1", "view" -> s"$tmp/view1"))
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("l_orderkey"))
        .write.parquet(s"$tmp/m2")
      val m2 = s.read.parquet(s"$tmp/m2")
      dv1.unionAll(ops.Layout.deletionVectors(s, s"$tmp/t",
          col("l_quantity") >= 48.0)) // wave 2 spans BOTH epochs
        .write.parquet(s"$tmp/dv2")
      val dv2 = s.read.parquet(s"$tmp/dv2")
      // v2's view is MAINTAINED, not rebuilt: fold the metadata-derived
      // change feed through the hybrid refresh
      val delta = ops.Layout.snapshotDiff(s, s"$tmp/t", m1, m2, dv1, dv2)
        .withColumn("sign", when(col("_change_type") === "insert",
          lit(1L)).otherwise(lit(-1L)))
        .select(col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("qty"), col("sign"))
      ops.Merge.refreshHybridView(s.read.parquet(s"$tmp/view1"), delta,
          prep(ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t", m2, dv2)),
          "l_returnflag", "qty", "sign")
        .write.parquet(s"$tmp/view2")
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/m2",
        "dv" -> s"$tmp/dv2", "view" -> s"$tmp/view2"))
      try {
        plans.MvRewrite.registerFromCatalog(s, "q128_v1", s"$tmp/t", cat,
          "l_returnflag", "qty", version = Some(1), prep = prep)
        plans.MvRewrite.registerFromCatalog(s, "q128_v2", s"$tmp/t", cat,
          "l_returnflag", "qty", version = Some(2), prep = prep)
        def panel(v: Int): DataFrame = {
          val refs = ops.Catalog.resolve(s, cat, v)
          prep(ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t",
              s.read.parquet(refs("manifest")), s.read.parquet(refs("dv"))))
            .groupBy("l_returnflag")
            .agg(count(lit(1)).as("n_rows"),
              sum(col("qty")).cast("double").as("sum_qty"),
              min(col("qty")).cast("double").as("min_qty"),
              max(col("qty")).cast("double").as("max_qty"))
            .select(lit(v).as("version"), col("l_returnflag"),
              col("n_rows"), col("sum_qty"), col("min_qty"), col("max_qty"))
        }
        val res = panel(1).unionAll(panel(2))
          .orderBy("version", "l_returnflag")
        val roots = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(roots.nonEmpty && roots.forall(r =>
          r.endsWith("/view1") || r.endsWith("/view2")),
          s"versioned mv rewrite did not fire; scanned: ${roots.mkString(", ")}")
        res
      } finally {
        plans.MvRewrite.unregister("q128_v1")
        plans.MvRewrite.unregister("q128_v2")
      }
    }),

    // ---- AUTOMATIC file skipping as an optimizer rule: after ONE SQL
    // registration verb, a WHERE over graft_catalog_read scans only the
    // files the version's stats manifest cannot rule out — file-level
    // admission inside the optimizer (Iceberg/Delta scan planning), so
    // every consumer gets skipping without calling a pruning API, and
    // the DV anti-join composes (filters push below it, the base side
    // prunes, deletes still subtract). The gate REQUIREs a strict
    // subset of the version's files in the optimized plan, then
    // hash-matches the full-scan oracle ---------------------------------
    "q129_scan_prune" -> ((s, dir) => {
      val tmp = gateScratch("q129")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      li.repartitionByRange(8, col("l_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .write.parquet(s"$tmp/m")
      ops.Layout.deletionVectors(s, s"$tmp/t", col("l_quantity") >= 48.0)
        .write.parquet(s"$tmp/dv")
      ops.Catalog.commit(s, s"$tmp/cat",
        Map("manifest" -> s"$tmp/m", "dv" -> s"$tmp/dv"))
      s.sql(s"SELECT * FROM graft_prune_register(" +
        s"'q129', '$tmp/t', '$tmp/cat', 1)").collect()
      try {
        val res = s.sql(s"""
          |SELECT l_returnflag, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_qty
          |FROM graft_catalog_read('$tmp/t', '$tmp/cat', 1)
          |WHERE l_orderkey BETWEEN 1000 AND 3000
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        // the gate is about the PLAN: the pruned scan must hold a
        // strict subset of the version's 8 files (this predicate spans
        // ≤ 1/20 of the range-clustered keyspace at any SF)
        val dataFiles = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
                  if fs.location.rootPaths.exists(_.toString.contains("/t/")) =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(dataFiles.nonEmpty && dataFiles.size < 8,
          s"scan-prune rewrite did not fire; scanned: ${dataFiles.size} " +
            s"roots (${dataFiles.take(3).mkString(", ")}, ...)")
        res
      } finally plans.ScanPruneRewrite.unregister("q129")
    }),

    // ---- OPTIMIZE ZORDER as a catalog operation: rewrite the current
    // version's live rows z-clustered on (l_partkey, l_suppkey) and
    // commit the next version — deletes fold in (the new version drops
    // its DV artifact), and a 2-D box predicate then prunes through
    // the automatic scan rewrite where the row-ordered layout scattered
    // both dimensions across every file. The gate REQUIREs the no-DV
    // commit and a strict file-subset plan, then hash-matches the
    // live-rows oracle -------------------------------------------------
    "q130_cluster_optimize" -> ((s, dir) => {
      val tmp = gateScratch("q130")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_quantity")
      li.repartitionByRange(8, col("l_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t",
        Seq("l_partkey", "l_suppkey")).write.parquet(s"$tmp/m1")
      ops.Layout.deletionVectors(s, s"$tmp/t", col("l_quantity") >= 48.0)
        .write.parquet(s"$tmp/dv1")
      ops.Catalog.commit(s, s"$tmp/cat",
        Map("manifest" -> s"$tmp/m1", "dv" -> s"$tmp/dv1"))
      val v2 = ops.Layout.optimizeZorder(s, s"$tmp/t", s"$tmp/cat", tmp,
        "l_partkey", "l_suppkey", bits = 15, numFiles = 16,
        statsCols = Seq("l_partkey", "l_suppkey"))
      val refs2 = ops.Catalog.resolve(s, s"$tmp/cat", v2)
      require(!refs2.contains("dv"),
        "optimize must fold the deletion vector into the rewrite")
      s.sql(s"SELECT * FROM graft_prune_register(" +
        s"'q130', '$tmp/t', '$tmp/cat', $v2)").collect()
      try {
        val res = s.sql(s"""
          |SELECT l_returnflag, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_qty
          |FROM graft_catalog_read('$tmp/t', '$tmp/cat', $v2)
          |WHERE l_partkey BETWEEN 50 AND 150
          |  AND l_suppkey BETWEEN 1 AND 5
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        val dataFiles = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
                  if fs.location.rootPaths.exists(_.toString.contains("/t/")) =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(dataFiles.nonEmpty && dataFiles.size < 16,
          s"2-D box did not prune the z-clustered layout: scanned " +
            s"${dataFiles.size} of 16 files")
        res
      } finally plans.ScanPruneRewrite.unregister("q130")
    }),

    // ---- incremental clustering maintenance: appends land row-ordered
    // on top of a z-clustered base; the delta pass re-clusters ONLY the
    // appended files (base files stay byte-identical, write cost
    // O(delta)), carrying base-file DV addresses forward and applying
    // delta-file addresses during the rewrite. The gate REQUIREs the
    // carried-DV commit and a pruned plan, then hash-matches the
    // live-rows oracle -------------------------------------------------
    "q131_cluster_delta" -> ((s, dir) => {
      val tmp = gateScratch("q131")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_quantity")
      ops.Layout.zorderLayout(li.filter(col("l_orderkey") % 2 === 0),
          "l_partkey", "l_suppkey", bits = 15, numFiles = 8)
        .write.parquet(s"$tmp/t")
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t",
        Seq("l_partkey", "l_suppkey")).localCheckpoint(eager = true)
      m1.write.parquet(s"$tmp/m1")
      ops.Catalog.commit(s, s"$tmp/cat", Map("manifest" -> s"$tmp/m1"))
      li.filter(col("l_orderkey") % 2 === 1)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      ops.Layout.extendManifest(s, s"$tmp/t", m1,
        Seq("l_partkey", "l_suppkey")).write.parquet(s"$tmp/m2")
      ops.Layout.deletionVectors(s, s"$tmp/t", col("l_quantity") >= 48.0)
        .write.parquet(s"$tmp/dv2")
      ops.Catalog.commit(s, s"$tmp/cat",
        Map("manifest" -> s"$tmp/m2", "dv" -> s"$tmp/dv2"))
      val v3 = ops.Layout.optimizeZorderDelta(s, s"$tmp/t", s"$tmp/cat",
        tmp, baseVersion = 1, "l_partkey", "l_suppkey", bits = 15,
        numFiles = 8, statsCols = Seq("l_partkey", "l_suppkey"))
      val refs3 = ops.Catalog.resolve(s, s"$tmp/cat", v3)
      require(refs3.contains("dv"),
        "base-file DV addresses must carry into the delta-clustered version")
      val nFiles = s.read.parquet(refs3("manifest")).count()
      s.sql(s"SELECT * FROM graft_prune_register(" +
        s"'q131', '$tmp/t', '$tmp/cat', $v3)").collect()
      try {
        val res = s.sql(s"""
          |SELECT l_returnflag, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_qty
          |FROM graft_catalog_read('$tmp/t', '$tmp/cat', $v3)
          |WHERE l_partkey BETWEEN 50 AND 150
          |  AND l_suppkey BETWEEN 1 AND 5
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        val dataFiles = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
                  if fs.location.rootPaths.exists(_.toString.contains("/t/")) =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(dataFiles.nonEmpty && dataFiles.size < nFiles,
          s"box did not prune the delta-clustered table: scanned " +
            s"${dataFiles.size} of $nFiles files")
        res
      } finally plans.ScanPruneRewrite.unregister("q131")
    }),

    // ---- METADATA-ONLY aggregates: the global count/min/max/count(col)
    // introspection panel over an append-only snapshot answers from the
    // stats manifest's per-file (n_rows, min, max, nulls) rows — the
    // optimizer rule proves zero data-file I/O (the gate REQUIREs a
    // manifest-only scan), and the values hash-match the full-scan
    // oracle, nulls included --------------------------------------------
    "q126_meta_agg" -> ((s, dir) => {
      val tmp = gateScratch("q126")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_linenumber") % 3 === 0, lit(null).cast("double"))
            .otherwise(col("l_quantity")).as("q"))
      li.repartitionByRange(4, col("l_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey", "q"))
        .write.parquet(s"$tmp/m")
      ops.Catalog.commit(s, s"$tmp/cat", Map("manifest" -> s"$tmp/m"))
      try {
        plans.MetaAggRewrite.registerFromCatalog(s, "q126_li", s"$tmp/t",
          s"$tmp/cat", Seq("l_orderkey", "q"))
        val res = ops.Layout.snapshotRead(s, s"$tmp/t",
            s.read.parquet(s"$tmp/m"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_orderkey")).as("min_ok"),
            max(col("l_orderkey")).as("max_ok"),
            count(col("q")).as("n_q"),
            min(col("q")).as("min_q"),
            max(col("q")).as("max_q"))
        val roots = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(roots.nonEmpty && roots.forall(_.endsWith("/m")),
          s"meta-agg rewrite did not fire; scanned: ${roots.mkString(", ")}")
        res
      } finally plans.MetaAggRewrite.unregister("q126_li")
    }),

    // ---- q119's hybrid IVM refresh from one spark.sql string: state,
    // delta and base are persisted side tables, the TVF resolves to the
    // exact refreshHybridView plan --------------------------------------
    "q123_sql_hybrid_refresh" -> ((s, dir) => {
      val tmp = gateScratch("q123")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem")
        .select("l_suppkey", "l_quantity", "l_orderkey")
      val base0 = li.filter(col("l_orderkey") % 7 =!= 0)
      base0.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("total"),
          min(col("l_quantity")).as("min_v"),
          max(col("l_quantity")).as("max_v"))
        .write.parquet(s"$tmp/state")
      li.filter(col("l_orderkey") % 7 === 0)
        .withColumn("sign", lit(1L))
        .unionAll(base0.filter(col("l_orderkey") % 50 === 0)
          .withColumn("sign", lit(-1L)))
        .write.parquet(s"$tmp/delta")
      li.filter(col("l_orderkey") % 7 === 0 ||
          col("l_orderkey") % 50 =!= 0)
        .write.parquet(s"$tmp/base")
      s.sql(s"""
        |SELECT l_suppkey, n, CAST(total AS DOUBLE) AS total,
        |       min_v, max_v
        |FROM graft_hybrid_refresh('$tmp/state', '$tmp/delta',
        |  '$tmp/base', 'l_suppkey', 'l_quantity', 'sign')
        |ORDER BY l_suppkey""".stripMargin)
    }),

    // ---- the CDC/search family from pure SQL: token-bloom search
    // (plain + takedown-honoring) and the change feed between two
    // persisted (manifest, DV) versions, each a TVF resolving at
    // analysis time to the exact Scala-op plan -------------------------
    "q120_sql_cdc" -> ((s, dir) => {
      val tmp = gateScratch("q120")
      GraftExtensions.register(s)
      val d = t(s, dir, "documents")
      d.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id")).write.parquet(s"$tmp/t")
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("doc_id"))
        .localCheckpoint(eager = true)
      m1.write.parquet(s"$tmp/m1")
      val i1 = ops.Layout.tokenBloomIndex(s, s"$tmp/t", "text")
        .localCheckpoint(eager = true)
      ops.Layout.deletionVectors(s, s"$tmp/t", lit(false))
        .write.parquet(s"$tmp/dv1")
      d.filter(col("doc_id") % 2 === 1)
        .repartitionByRange(4, col("doc_id"))
        .write.mode("append").parquet(s"$tmp/t")
      ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("doc_id"))
        .write.parquet(s"$tmp/m2")
      ops.Layout.extendTokenBloomIndex(s, s"$tmp/t", i1, "text")
        .write.parquet(s"$tmp/i2")
      val keys = d.filter(col("doc_id") % 3 === 0).select("doc_id")
      ops.Layout.deletionVectorsForKeys(s, s"$tmp/t", keys, "doc_id")
        .write.parquet(s"$tmp/dv2")
      s.sql(s"""
        |SELECT 'search' AS op, doc_id FROM graft_token_search_dv(
        |  '$tmp/t', '$tmp/i2', 'text', 'dup', '$tmp/dv2')
        |UNION ALL
        |SELECT 'search_all' AS op, doc_id FROM graft_token_search(
        |  '$tmp/t', '$tmp/i2', 'text', 'dup')
        |UNION ALL
        |SELECT concat('diff_', _change_type) AS op, doc_id
        |FROM graft_snapshot_diff(
        |  '$tmp/t', '$tmp/m1', '$tmp/m2', '$tmp/dv1', '$tmp/dv2')
        |ORDER BY op, doc_id""".stripMargin)
    }),

    // ---- dynamic partition overwrite: INSERT OVERWRITE replaces ONLY
    // the partitions the incoming data touches — the partition-grain
    // refresh between row-level DVs and full rewrites; untouched
    // partitions keep their files byte-identical (spec-pinned) ----------
    "q99_dynamic_overwrite" -> ((s, dir) => {
      val tmp = gateScratch("q99")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      li.write.partitionBy("l_returnflag").parquet(s"$tmp/t")
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try li.filter(col("l_returnflag") === "R")
        .withColumn("l_quantity", col("l_quantity") + 100.0)
        .write.mode("overwrite").partitionBy("l_returnflag")
        .parquet(s"$tmp/t")
      finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      s.read.parquet(s"$tmp/t")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- snapshot ROLLBACK: restore the table to a retained manifest
    // by vacuuming everything that manifest doesn't reference — undo
    // for a bad append, from machinery the table already maintains ------
    "q100_snapshot_rollback" -> ((s, dir) => {
      val tmp = gateScratch("q100")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      val v1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .localCheckpoint(eager = true)
      // the bad append: rows that should never have landed
      li.filter(col("l_orderkey") % 2 === 1)
        .withColumn("l_quantity", col("l_quantity") * -1.0)
        .repartitionByRange(4, col("l_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      // rollback = retain ONLY v1; the append's files are orphans
      ops.Layout.vacuumOrphans(s, s"$tmp/t", Seq(v1))
      s.read.parquet(s"$tmp/t")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- PNG tEXt metadata extraction: caption/source sidecars parsed
    // from real chunk structure (CRC-correct spliced chunks) — the
    // image-text pairing pass; bytes stay record-local ------------------
    "m17_png_metadata" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val w = (id % 64 + 1).toInt
          val h = (id % 48 + 1).toInt
          ops.Multimodal.MediaRecord(id,
            ops.Multimodal.MediaGen.pngWithText(w, h, id, Seq(
              "source" -> s"crawl-${id % 7}",
              "caption" -> s"synthetic image $id")),
            ops.Multimodal.MediaMeta("png", w, h, 0L))
        }
      ops.Multimodal.textMetadata(media).toDF()
        .orderBy("media_id", "key")
    }),

    // ---- streaming DV maintenance: a takedown-key stream folds into a
    // grow-only DV side table per micro-batch (plain unionAll — dup DV
    // rows are harmless to the anti-join, so batch order/overlap can't
    // corrupt); the base table is never touched ------------------------
    "s27_stream_dv_maintenance" -> ((s, dir) => {
      val tmp = gateScratch("s27")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .repartitionByRange(4, col("l_orderkey"))
        .write.parquet(s"$tmp/t")
      // the takedown feed: orderkeys ≡ 0 (mod 5), in 4 shard files —
      // with deliberate OVERLAP between consecutive batches (retries)
      val keys = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 5 === 0)
        .select("l_orderkey").distinct()
      keys.withColumn("shard", pmod(col("l_orderkey"), lit(3)))
        .unionAll(keys.limit(50).withColumn("shard", lit(3L))) // re-requests
        .repartition(4, col("shard"))
        .write.parquet(s"$tmp/in")
      val inSchema = s.read.parquet(s"$tmp/in").schema
      var dv = t(s, dir, "lineitem").limit(0)
        .select(lit("").as("file"), lit(0L).as("pos"))
      withNarrowState(s) {
        val q = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            dv = dv.unionAll(ops.Layout.deletionVectorsForKeys(
                s, s"$tmp/t", batch, "l_orderkey"))
              .localCheckpoint(eager = true)
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      ops.Layout.readWithDeletes(s, s"$tmp/t", dv)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- Kahn layering + cycle audit: dependency waves peel round by
    // round; nodes a planted cycle locks report layer -1 — the audit a
    // scheduler needs before trusting the waves -------------------------
    "g14_kahn_layers" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      // acyclic core: supplier → part (depth 1), parts chain to a
      // synthetic sink; plus a planted 3-cycle that locks a tail node
      val base = li.select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000L).as("dst"))
      val extra = Seq(
        (1000001L, 9000001L), (9000001L, 9000002L), // chain for depth
        (9100001L, 9100002L), (9100002L, 9100003L), // the planted cycle
        (9100003L, 9100001L), (9100003L, 9100009L)) // and its captive
        .toDF("src", "dst")
      ops.Graph.kahnLayers(base.unionAll(extra), "src", "dst", rounds = 5)
        .orderBy("node")
    }),

    // ---- Luby maximal independent set: static hash priorities make it
    // deterministic (≡ greedy over the priority permutation); round-
    // bounded, each member labeled with its selection wave -------------
    "g13_mis" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 1000000L).as("dst"))
      ops.Graph.maximalIndependentSet(edges, "src", "dst", rounds = 8,
          seed = "graft-mis-g13")
        .orderBy("node")
    }),

    // ---- stream-stream FULL OUTER interval join: completes the
    // streaming join family (inner s3, left-outer s12, left-semi s16) —
    // unmatched rows on EITHER side null-extend when the watermark
    // evicts their buffered state ---------------------------------------
    "s26_stream_full_outer_join" -> ((s, dir) => {
      def stream() = eventStream(s, dir)
      val purchases = stream()
        .filter(col("event_type") === "purchase" && col("user_id") % 7 === 1)
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "2 hours")
      val views = stream()
        .filter(col("event_type") === "view" && col("user_id") % 7 === 1)
        .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
          col("ts").as("v_ts"))
        .withWatermark("v_ts", "2 hours")
      val joined = purchases.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") <= col("p_ts") + expr("INTERVAL 1 HOUR"),
        "full_outer")
      streamToTable(s,
        joined.select(coalesce(col("user_id"), col("v_user")).as("user_id"),
          col("p_id"), col("v_id")), "s26", "append")
        .orderBy("user_id", "p_id", "v_id")
    }),

    // ---- IVF tombstone delete: drop ids from the index, then the batch
    // kNN join — deleted ids neither query nor surface as neighbors, and
    // the result equals a rebuild over survivors (frozen centroid panel,
    // per-row-pure assignment) — the GDPR path for a vector store -------
    "e25_ivf_remove" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding",
        nlist = 8)
      val gone = emb.select("vec_id").filter(col("vec_id") % 7 === 0)
      idx.remove(gone, "vec_id").knnJoin(k = 5, nprobe = 2)
        .orderBy("id", "rank")
    }),

    // ---- PERSISTED vector index: e7's scenario with the IVF index
    // round-tripped through disk (cell-partitioned assignment table +
    // centroid panel table) — the build-once / probe-many shape of a
    // real vector store: the O(corpus) build runs in one job, later
    // sessions cold-load and pay only probe cost. vnorm round-trips as
    // a stored double, so the loaded knnJoin must hash-match e7's
    // in-session oracle bit-exactly ------------------------------------
    "e28_ivf_persisted" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val emb = t(s, dir, "embeddings")
      val path = s"${gateScratch("e28")}/ivf"
      ops.Similarity.IvfIndex.save(
        ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", nlist = 8),
        path)
      ops.Similarity.IvfIndex.load(path)
        .knnJoin(k = 5, nprobe = 2)
        .orderBy("id", "rank")
    }),

    // ---- PERSISTED PQ codebook: e8's encode with the codebook fit,
    // saved (seeds + (m,k) params tables), cold-loaded, and replayed
    // against the batch — the contract that matters in production: the
    // codebook defines the meaning of every stored code, so it is
    // trained once and SHIPPED, never re-derived per batch -------------
    "e29_pq_persisted" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val emb = t(s, dir, "embeddings")
      val path = s"${gateScratch("e29")}/pq"
      ops.Similarity.PqCodebook.save(
        ops.Similarity.PqCodebook.fit(emb, "vec_id", "embedding", m = 8, k = 8),
        path)
      ops.Similarity.PqCodebook.load(path)
        .encode(emb, "vec_id", "embedding")
        .orderBy("id", "sub")
    }),

    // ---- CROSS-SESSION index maintenance cycle: build → save → load →
    // addVectors (day-2 batch, frozen centroids) → remove (takedown
    // wave over old AND new ids) → RE-PUBLISH to the same path → load →
    // search. e28 proves cold-load search; this gate proves the whole
    // production loop, including that the second save replaces what
    // load reads (the r15 overwrite-vs-uniquePath fix). Oracle = the
    // e7 replay over exactly (build ∪ added) − removed with the BUILD's
    // centroid panel ---------------------------------------------------
    "e30_ivf_maintenance_cycle" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val emb = t(s, dir, "embeddings")
      val path = s"${gateScratch("e30")}/ivf"
      ops.Similarity.IvfIndex.save(
        ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", nlist = 8),
        path)
      val day2 = ops.Similarity.IvfIndex.load(path)
        .addVectors(emb.filter(col("vec_id") % 10 === 5)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
          "vec_id", "embedding")
      val pruned = day2.remove(
        day2.assigned.select(col("id").as("vec_id"))
          .filter(col("vec_id") % 7 === 0), "vec_id")
      ops.Similarity.IvfIndex.save(pruned, path) // re-publish in place
      ops.Similarity.IvfIndex.load(path)
        .knnJoin(k = 5, nprobe = 2)
        .orderBy("id", "rank")
    }),

    // ---- CROSS-SESSION lifecycle of the vector-LSH ADMISSION index
    // (the front-door table s29/s31 probe frozen): build → save →
    // cold load → day-1 admission → extend with the survivors →
    // TAKEDOWN of exact-vector group representatives (id % 9 == 4) →
    // re-publish to the SAME path → reload → day-2 admission. Day 2
    // observes the takedown: copies of removed vectors RE-ADMIT, while
    // copies of day-1 admissions and perturbed survivors still bounce.
    // Oracle = two nested admission replays — extend/remove must be
    // indistinguishable from a rebuild over survivors ∪ day-1 ---------
    "e31_vector_admission_cycle" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding"))
      val path = s"${gateScratch("e31")}/vlsh"
      ops.Dedup.VectorNearDupIndex.save(
        ops.Dedup.vectorNearDupIndex(corpus, "vec_id", "embedding",
          dim = 64, bits = 6),
        dim = 64, bits = 6, path)
      val day1 = ops.Dedup.VectorNearDupIndex.load(path)
      val batch1 = emb.filter(col("vec_id") % 10 === 5)
        .select((col("vec_id") + 4000000).as("vec_id"),
          reverse(col("embedding").cast("array<double>")).as("embedding"))
      val admitted1 = ops.Dedup.vectorNearDupFilter(day1.buckets, batch1,
        "vec_id", "embedding", dim = day1.dim, bits = day1.bits, tau = 0.8)
      val extended = ops.Dedup.VectorNearDupIndex.extend(day1.buckets,
        admitted1, "vec_id", "embedding", dim = day1.dim, bits = day1.bits)
      // takedown: bit-identical-vector group reps with id % 9 == 4
      // (whole groups — the closure precondition)
      val removed = ops.Dedup.collapseVectors(corpus, "vec_id", "embedding")
        .filter(col("id") % 9 === 4).select("id")
      ops.Dedup.VectorNearDupIndex.save(
        ops.Dedup.VectorNearDupIndex.remove(extended, removed, "id"),
        day1.dim, day1.bits, path) // re-publish in place
      val day2 = ops.Dedup.VectorNearDupIndex.load(path)
      val readmit = ops.Dedup.collapseVectors(corpus, "vec_id", "embedding")
        .filter(col("id") % 9 === 4)
        .select((col("id") + 8000000).as("vec_id"), col("v").as("embedding"))
      val copies2 = batch1.select((col("vec_id") + 5000000).as("vec_id"),
        col("embedding"))
      val near2 = emb.filter(col("vec_id") % 10 === 3)
        .select((col("vec_id") + 2000000).as("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => x + lit(0.0001)).as("embedding"))
      val fresh2 = emb.filter(col("vec_id") % 10 === 6)
        .select((col("vec_id") + 7000000).as("vec_id"),
          reverse(col("embedding").cast("array<double>")).as("embedding"))
      ops.Dedup.vectorNearDupFilter(day2.buckets,
          readmit.unionAll(copies2).unionAll(near2).unionAll(fresh2),
          "vec_id", "embedding", dim = day2.dim, bits = day2.bits, tau = 0.8)
        .select("vec_id")
        .orderBy("vec_id")
    }),

    // ---- VERSIONED index publish — the lake posture for the vector
    // store: immutable v<N> dirs + atomic claim/commit markers
    // (closing save()'s documented at-scale caveat: in-place overwrite
    // is a single mutable slot). v1 = the build; maintenance (add +
    // takedown) publishes v2; the gate reads BOTH — a pinned v1 reader
    // keeps a consistent snapshot (index time travel) while the newest
    // committed version serves the maintained index -------------------
    "e33_ivf_versioned" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val emb = t(s, dir, "embeddings")
      val path = s"${gateScratch("e33")}/ivf"
      val v1 = ops.Similarity.IvfIndex.publish(
        ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", nlist = 8),
        path)
      val maintained = ops.Similarity.IvfIndex.loadCurrent(path)
        .addVectors(emb.filter(col("vec_id") % 10 === 5)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
          "vec_id", "embedding")
      val pruned = maintained.remove(
        maintained.assigned.select(col("id").as("vec_id"))
          .filter(col("vec_id") % 7 === 0), "vec_id")
      ops.Similarity.IvfIndex.publish(pruned, path) // v2, pointer flips
      val old = ops.Similarity.IvfIndex.loadVersion(path, v1)
        .knnJoin(k = 5, nprobe = 2)
        .select(lit("v1").as("part"), col("id"), col("rank"),
          col("nid"), col("cos"))
      val cur = ops.Similarity.IvfIndex.loadCurrent(path)
        .knnJoin(k = 5, nprobe = 2)
        .select(lit("v2").as("part"), col("id"), col("rank"),
          col("nid"), col("cos"))
      old.unionAll(cur).orderBy("part", "id", "rank")
    }),

    // ---- vector retrieval from PURE SQL: the persisted IVF index and
    // a query table addressed by path through the graft_knn_probe TVF —
    // the online-retrieval shape (s38) at a SQL prompt, resolving at
    // analysis time into the exact knnProbe plan --------------------------
    "e32_sql_knn_probe" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val tmp = gateScratch("e32")
      GraftExtensions.register(s)
      val emb = t(s, dir, "embeddings")
      ops.Similarity.IvfIndex.save(
        ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", nlist = 8),
        s"$tmp/index")
      emb.filter(col("vec_id") % 5 === 2)
        .select((col("vec_id") + 1000000).as("qid"),
          reverse(col("embedding").cast("array<double>")).as("qv"))
        .write.parquet(s"$tmp/queries")
      s.sql(
        s"""SELECT id, rank, nid, cos
           |FROM graft_knn_probe('$tmp/index', '$tmp/queries',
           |                     'qid', 'qv', 5, 2)
           |ORDER BY id, rank""".stripMargin)
    }),

    // ---- per-file Bloom index: point lookup on a column UNCLUSTERED in
    // the layout (min/max manifests prune nothing there); all-k-bits
    // membership keeps skipping lossless, the final filter keeps the
    // result exactly the full-scan equality ----------------------------
    "q95_bloom_index" -> ((s, dir) => {
      val tmp = gateScratch("q95")
      // date-clustered layout → o_custkey scatters across every file
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      o.filter(col("o_orderkey") % 2 === 0)
        .repartitionByRange(4, col("o_orderdate"))
        .write.parquet(s"$tmp/t")
      val v1 = ops.Layout.bloomIndex(s, s"$tmp/t", "o_custkey")
        .localCheckpoint(eager = true) // pin BEFORE the append lands
      o.filter(col("o_orderkey") % 2 === 1)
        .repartitionByRange(4, col("o_orderdate"))
        .write.mode("append").parquet(s"$tmp/t")
      // refresh hashes the appended files ONLY (≡ rebuild, spec-proven)
      val idx = ops.Layout.extendBloomIndex(s, s"$tmp/t", v1, "o_custkey")
      val probe = t(s, dir, "orders").agg(min(col("o_custkey"))).head.getLong(0)
      ops.Layout.bloomRead(s, s"$tmp/t", idx, "o_custkey", lit(probe))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy("o_custkey")
    }),

    // ---- full-text file skipping: per-file bloom over the TOKEN SET
    // of the text column — the log-grep shape (rare-term search reads
    // only admitting files; q95's value bloom can't serve a token
    // inside a document). Two epochs: the refresh tokenizes only the
    // appended files (≡ rebuild, spec-proven) ---------------------------
    "q115_token_bloom" -> ((s, dir) => {
      val tmp = gateScratch("q115")
      val d = t(s, dir, "documents")
      d.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id"))
        .write.parquet(s"$tmp/t")
      val v1 = ops.Layout.tokenBloomIndex(s, s"$tmp/t", "text")
        .localCheckpoint(eager = true) // pin BEFORE the append lands
      d.filter(col("doc_id") % 2 === 1)
        .repartitionByRange(4, col("doc_id"))
        .write.mode("append").parquet(s"$tmp/t")
      val idx = ops.Layout.extendTokenBloomIndex(s, s"$tmp/t", v1, "text")
      // 'dup' is the corpus's rare token (25/500 docs at sf0.01)
      ops.Layout.tokenBloomRead(s, s"$tmp/t", idx, "text", "dup")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- full-text search over a TAKEDOWN-mutated table: the bloom
    // prunes files, the DV broadcast anti removes deleted rows from the
    // admitted scans, the exact token predicate lands last — a removed
    // document stops matching the moment its DV row lands, with NO
    // index rebuild (bits are never unset; a stale admit costs one file
    // scan, never a wrong row) ------------------------------------------
    "q118_token_bloom_deletes" -> ((s, dir) => {
      val tmp = gateScratch("q118")
      val d = t(s, dir, "documents")
      d.repartitionByRange(8, col("doc_id")).write.parquet(s"$tmp/t")
      val idx = ops.Layout.tokenBloomIndex(s, s"$tmp/t", "text")
        .localCheckpoint(eager = true) // pin BEFORE takedowns land
      // the takedown feed arrives as KEYS (the GDPR shape): every
      // third doc_id is erased; the bloom index is NOT touched
      val keys = t(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0).select("doc_id")
      val dv = ops.Layout.deletionVectorsForKeys(
        s, s"$tmp/t", keys, "doc_id")
      ops.Layout.tokenBloomReadWithDeletes(s, s"$tmp/t", idx, "text",
          "dup", dv)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // ---- streaming multi-artifact publish: each ingest micro-batch
    // appends data, refreshes manifest AND token-bloom index at
    // O(batch), persists both immutably, and flips ONE catalog pointer
    // — readers time-travel the catalog and every version is a
    // consistent (table, index) world ≡ its batch prefix ---------------
    "s41_stream_catalog" -> ((s, dir) => {
      val tmp = gateScratch("s41")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      // stage batch k as ONE file with strictly increasing mtimes so
      // FileStreamSource (mtime order) delivers the fold in k order
      val inDir = java.nio.file.Paths.get(tmp, "in")
      java.nio.file.Files.createDirectories(inDir)
      (0 until 4).foreach { k =>
        val shardTmp = s"$tmp/shard$k"
        docs.filter(pmod(col("doc_id"), lit(4)) === k)
          .coalesce(1).write.parquet(shardTmp)
        val part = new java.io.File(shardTmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = inDir.resolve(f"batch-$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + k * 60000L))
      }
      // seed the table dir with its schema (zero-row manifest entry)
      docs.limit(0).coalesce(1).write.parquet(s"$tmp/t")
      var manifest = ops.Layout.statsManifest(s, s"$tmp/t", Seq("doc_id"))
        .localCheckpoint(eager = true)
      var tokidx = ops.Layout.tokenBloomIndex(s, s"$tmp/t", "text")
        .localCheckpoint(eager = true)
      val cat = s"$tmp/catalog"
      val inSchema = s.read.parquet(inDir.toString).schema
      withNarrowState(s) {
        val q = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            batch.select("doc_id", "text")
              .repartitionByRange(2, col("doc_id"))
              .write.mode("append").parquet(s"$tmp/t")
            // O(batch) refreshes, persisted to IMMUTABLE version dirs;
            // reloading severs lineage for the next batch's extension
            ops.Layout.extendManifest(s, s"$tmp/t", manifest, Seq("doc_id"))
              .write.parquet(s"$tmp/m/v$bid")
            manifest = s.read.parquet(s"$tmp/m/v$bid")
            ops.Layout.extendTokenBloomIndex(s, s"$tmp/t", tokidx, "text")
              .write.parquet(s"$tmp/i/v$bid")
            tokidx = s.read.parquet(s"$tmp/i/v$bid")
            // the ONE atomic step: both artifacts flip together —
            // keyed by the batch id, so a foreachBatch RETRY of this
            // batch can never publish the world twice
            ops.Catalog.commitIdempotent(s, cat, s"batch-$bid", Map(
              "manifest" -> s"$tmp/m/v$bid", "token_bloom" -> s"$tmp/i/v$bid"))
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // time travel: catalog version v ≡ the batch-prefix world 0..v-1
      def world(v: Int): DataFrame = {
        val refs = ops.Catalog.resolve(s, cat, v)
        val m = s.read.parquet(refs("manifest"))
        val idx = s.read.parquet(refs("token_bloom"))
        val total = ops.Layout.snapshotRead(s, s"$tmp/t", m).count()
        ops.Layout.tokenBloomRead(s, s"$tmp/t", idx, "text", "dup")
          .select(lit(v).as("version"), col("doc_id"),
            lit(total).as("table_rows"))
      }
      (1 to 4).map(world).reduce(_ unionAll _).orderBy("version", "doc_id")
    }),

    // ---- streaming TAKEDOWN feed: each micro-batch of delete KEYS
    // lands as (a) a grown DV set persisted immutably, (b) the agg view
    // rolled forward by the metadata-derived change feed (snapshotDiff
    // over the same manifest, old-vs-new DVs — pure delete rows), both
    // flipped under ONE catalog pointer. The base table is NEVER
    // rewritten and never re-aggregated: per batch, work is O(batch
    // keys + touched groups). Catalog version v ≡ the takedown prefix
    // 0..v-1 — the GDPR erase pipeline with time travel ----------------
    "s42_stream_takedown" -> ((s, dir) => {
      val tmp = gateScratch("s42")
      val docs = t(s, dir, "documents").select("doc_id", "source", "n_chars")
      docs.repartitionByRange(8, col("doc_id")).write.parquet(s"$tmp/t")
      val m = ops.Layout.statsManifest(s, s"$tmp/t", Seq("doc_id"))
        .localCheckpoint(eager = true)
      // takedown batch k erases doc_id % 9 == k, staged in mtime order
      val inDir = java.nio.file.Paths.get(tmp, "in")
      java.nio.file.Files.createDirectories(inDir)
      (0 until 4).foreach { k =>
        val shardTmp = s"$tmp/keys$k"
        docs.filter(pmod(col("doc_id"), lit(9)) === k).select("doc_id")
          .coalesce(1).write.parquet(shardTmp)
        val part = new java.io.File(shardTmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = inDir.resolve(f"batch-$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + k * 60000L))
      }
      var dv = ops.Layout.deletionVectors(s, s"$tmp/t", lit(false))
        .localCheckpoint(eager = true)
      var view = ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t", m, dv)
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("decimal(18,2)")).as("total"))
        .localCheckpoint(eager = true)
      val cat = s"$tmp/catalog"
      val inSchema = s.read.parquet(inDir.toString).schema
      withNarrowState(s) {
        val q = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            // address resolution prunes through the manifest: only
            // files whose doc_id span intersects the batch are scanned
            val grown = dv.unionAll(ops.Layout.deletionVectorsForKeysPruned(
              s, s"$tmp/t", m, batch, "doc_id"))
            // delta-scale artifact: single-file persist, or each DV
            // version inherits its predecessor's part files plus the
            // wave's and reads snowball (guide §6 output sizing).
            // repartition, NOT coalesce: the wave's addresses come from
            // an un-materialized pruned scan that must stay parallel
            grown.repartition(1).write.parquet(s"$tmp/dv/v$bid")
            val dvNew = s.read.parquet(s"$tmp/dv/v$bid")
            // the view rolls by the CDF between the two DV versions —
            // no base re-aggregation, delta-scale only
            val delta = ops.Layout.snapshotDiff(s, s"$tmp/t", m, m, dv, dvNew)
              .withColumn("sign", when(col("_change_type") === "insert",
                lit(1L)).otherwise(lit(-1L)))
            ops.Merge.incrementalAgg(view, delta, "source", "n_chars", "sign")
              .write.parquet(s"$tmp/view/v$bid")
            dv = dvNew
            view = s.read.parquet(s"$tmp/view/v$bid")
            ops.Catalog.commitIdempotent(s, cat, s"batch-$bid", Map(
              "dv" -> s"$tmp/dv/v$bid", "view" -> s"$tmp/view/v$bid"))
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // catalog v is a CONSISTENT (dv, view) world: the view's groups
      // and the DV-subtracted live count move together
      def world(v: Int): DataFrame = {
        val refs = ops.Catalog.resolve(s, cat, v)
        val dvV = s.read.parquet(refs("dv"))
        val live = ops.Layout.readWithDeletes(s, s"$tmp/t", dvV).count()
        s.read.parquet(refs("view"))
          .select(lit(v).as("version"), col("source"), col("n"),
            col("total").cast("double").as("total"),
            lit(live).as("live_rows"))
      }
      (1 to 4).map(world).reduce(_ unionAll _).orderBy("version", "source")
    }),

    // ---- the FULL streaming lakehouse view loop with NON-INVERTIBLE
    // aggregates: each micro-batch carries appends AND takedown keys;
    // per batch the manifest extends (O(new files)), the DV set grows
    // (address scan manifest-pruned), the (count, sum, min, max) view
    // hybrid-refreshes from the metadata-derived change feed — min/max
    // folding for insert-only groups, delete-touched groups recomputing
    // from their own live rows — and all THREE artifacts flip under one
    // catalog pointer. Catalog version v ≡ the batch-prefix world ------
    "s43_stream_lake_view" -> ((s, dir) => {
      val tmp = gateScratch("s43")
      val docs = t(s, dir, "documents").select("doc_id", "source", "n_chars")
      // batch k appends the doc_id % 4 == k slice and takes down the
      // ALREADY-ARRIVED keys with doc_id % 9 == k (k=0 deletes nothing)
      val inDir = java.nio.file.Paths.get(tmp, "in")
      java.nio.file.Files.createDirectories(inDir)
      (0 until 4).foreach { k =>
        val adds = docs.filter(pmod(col("doc_id"), lit(4)) === k)
          .withColumn("is_delete", lit(false))
        val dels = docs.filter(pmod(col("doc_id"), lit(9)) === k &&
            pmod(col("doc_id"), lit(4)) <= k - 1)
          .withColumn("is_delete", lit(true))
        val shardTmp = s"$tmp/shard$k"
        adds.unionAll(dels).coalesce(1).write.parquet(shardTmp)
        val part = new java.io.File(shardTmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = inDir.resolve(f"batch-$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + k * 60000L))
      }
      docs.limit(0).coalesce(1).write.parquet(s"$tmp/t")
      var manifest = ops.Layout.statsManifest(s, s"$tmp/t", Seq("doc_id"))
        .localCheckpoint(eager = true)
      var dv = ops.Layout.deletionVectors(s, s"$tmp/t", lit(false))
        .localCheckpoint(eager = true)
      var view = docs.limit(0).groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("decimal(18,2)")).as("total"),
          min(col("n_chars")).as("min_v"),
          max(col("n_chars")).as("max_v"))
        .localCheckpoint(eager = true)
      val cat = s"$tmp/catalog"
      val inSchema = s.read.parquet(inDir.toString).schema
      withNarrowState(s) {
        val q = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            batch.filter(!col("is_delete"))
              .select("doc_id", "source", "n_chars")
              .repartitionByRange(2, col("doc_id"))
              .write.mode("append").parquet(s"$tmp/t")
            ops.Layout.extendManifest(s, s"$tmp/t", manifest, Seq("doc_id"))
              .write.parquet(s"$tmp/m/v$bid")
            val m2 = s.read.parquet(s"$tmp/m/v$bid")
            dv.unionAll(ops.Layout.deletionVectorsForKeysPruned(
                s, s"$tmp/t", m2,
                batch.filter(col("is_delete")).select("doc_id"), "doc_id"))
              // delta-scale artifact: single-file persist (guide §6) —
              // unioned DV chains otherwise snowball part files.
              // repartition, NOT coalesce: the wave's addresses come
              // from an un-materialized pruned scan that must stay
              // parallel
              .repartition(1).write.parquet(s"$tmp/dv/v$bid")
            val dv2 = s.read.parquet(s"$tmp/dv/v$bid")
            // the change feed between the two (manifest, DV) versions
            // drives the hybrid refresh; delete-touched groups read
            // their live rows from the CURRENT version only
            val delta = ops.Layout.snapshotDiff(s, s"$tmp/t",
                manifest, m2, dv, dv2)
              .withColumn("sign", when(col("_change_type") === "insert",
                lit(1L)).otherwise(lit(-1L)))
            val baseNew = ops.Layout.snapshotReadWithDeletes(
              s, s"$tmp/t", m2, dv2)
            ops.Merge.refreshHybridView(view, delta, baseNew,
                "source", "n_chars", "sign")
              .write.parquet(s"$tmp/view/v$bid")
            manifest = m2; dv = dv2
            view = s.read.parquet(s"$tmp/view/v$bid")
            ops.Catalog.commitIdempotent(s, cat, s"batch-$bid",
              Map("manifest" -> s"$tmp/m/v$bid",
                "dv" -> s"$tmp/dv/v$bid", "view" -> s"$tmp/view/v$bid"))
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // catalog v is a consistent THREE-artifact world: the view's
      // groups and the merge-on-read live count move together
      def world(v: Int): DataFrame = {
        val refs = ops.Catalog.resolve(s, cat, v)
        val live = ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t",
          s.read.parquet(refs("manifest")), s.read.parquet(refs("dv")))
          .count()
        s.read.parquet(refs("view"))
          .select(lit(v).as("version"), col("source"), col("n"),
            col("total").cast("double").as("total"),
            col("min_v"), col("max_v"), lit(live).as("live_rows"))
      }
      (1 to 4).map(world).reduce(_ unionAll _).orderBy("version", "source")
    }),

    // ---- N-dimensional clustering: OPTIMIZE ZORDER over THREE columns
    // (partkey × suppkey × linenumber — the date × key × tenant shape);
    // bit j of column k lands at position 3j+k, so every dimension
    // carries tight per-file stats and a 3-conjunct box prunes through
    // the automatic rewrite. Gate REQUIREs a strict file-subset plan,
    // then hash-matches the live-rows oracle ---------------------------
    "q134_cluster_3d" -> ((s, dir) => {
      val tmp = gateScratch("q134")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_quantity")
      li.repartitionByRange(8, col("l_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t",
        Seq("l_partkey", "l_suppkey", "l_linenumber"))
        .write.parquet(s"$tmp/m1")
      ops.Layout.deletionVectors(s, s"$tmp/t", col("l_quantity") >= 48.0)
        .write.parquet(s"$tmp/dv1")
      ops.Catalog.commit(s, s"$tmp/cat",
        Map("manifest" -> s"$tmp/m1", "dv" -> s"$tmp/dv1"))
      val v2 = ops.Layout.optimizeZorderN(s, s"$tmp/t", s"$tmp/cat", tmp,
        Seq("l_partkey", "l_suppkey", "l_linenumber"), bits = 15,
        numFiles = 16,
        statsCols = Seq("l_partkey", "l_suppkey", "l_linenumber"))
      require(!ops.Catalog.resolve(s, s"$tmp/cat", v2).contains("dv"),
        "optimize must fold the deletion vector in")
      s.sql(s"SELECT * FROM graft_prune_register(" +
        s"'q134', '$tmp/t', '$tmp/cat', $v2)").collect()
      try {
        val res = s.sql(s"""
          |SELECT l_returnflag, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_qty
          |FROM graft_catalog_read('$tmp/t', '$tmp/cat', $v2)
          |WHERE l_partkey BETWEEN 50 AND 150
          |  AND l_suppkey BETWEEN 1 AND 5
          |  AND l_linenumber BETWEEN 1 AND 2
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        val dataFiles = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
                  if fs.location.rootPaths.exists(_.toString.contains("/t/")) =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(dataFiles.nonEmpty && dataFiles.size < 16,
          s"3-D box did not prune: scanned ${dataFiles.size} of 16 files")
        res
      } finally plans.ScanPruneRewrite.unregister("q134")
    }),

    // ---- HYBRID metadata count: a range count over the clustered key
    // answers from manifest rows for fully-contained files (n_rows −
    // nulls, zero I/O) and scans ONLY the boundary-straddling files —
    // for a range-clustered table that is O(2 files) of data I/O for
    // an arbitrarily wide range. The gate REQUIREs the straddle set is
    // a strict subset, then hash-matches the full-scan count ------------
    "q133_count_range" -> ((s, dir) => {
      val tmp = gateScratch("q133")
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      li.repartitionByRange(8, col("l_orderkey")).write.parquet(s"$tmp/t")
      val m = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .localCheckpoint(eager = true)
      val straddle = m.filter(
        !(col("min_l_orderkey") >= 1000L && col("max_l_orderkey") <= 30000L
            && col("nulls_l_orderkey").isNotNull) &&
        !(col("min_l_orderkey").isNull || col("max_l_orderkey") < 1000L ||
            col("min_l_orderkey") > 30000L)).count()
      require(straddle < m.count(),
        s"range should straddle a strict subset, got $straddle files")
      val n = ops.Layout.countRange(s, s"$tmp/t", m, "l_orderkey",
        lit(1000L), lit(30000L))
      s.range(1).select(lit(n).as("n_rows"))
    }),

    // ---- hybrid count PAST the flat ceiling: the same range count
    // through the TWO-LEVEL manifest from pure SQL — the group rollup
    // prunes first (driver never collects the whole listing), surviving
    // groups' file rows classify fully-contained vs straddling exactly
    // as q133. The gate REQUIREs group-level pruning actually bites ----
    "q135_count_grouped" -> ((s, dir) => {
      val tmp = gateScratch("q135")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      li.repartitionByRange(8, col("l_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifestPartitioned(s, s"$tmp/t", Seq("l_orderkey"),
        s"$tmp/mf", groupSize = 2)
      val groups = s.read.parquet(s"$tmp/mf/groups")
        .localCheckpoint(eager = true)
      val surviving = groups.filter(col("max_l_orderkey") >= 1000L &&
        col("min_l_orderkey") <= 3000L).count()
      require(surviving < groups.count(),
        s"range should prune groups, kept $surviving of ${groups.count()}")
      s.sql(s"""SELECT * FROM graft_count_range_grouped(
        |'$tmp/t', '$tmp/mf', 'l_orderkey', 1000, 3000)""".stripMargin)
    }),

    // ---- BLOOM-composed automatic skipping: the table is clustered by
    // partkey, so an orderkey point lookup gets nothing from min/max
    // (every file spans the whole key range) — attaching the persisted
    // bloom index to the registered scan makes the SAME SQL WHERE skip
    // at the file level anyway. The gate REQUIREs a strict file-subset
    // plan for an IN probe, then hash-matches the full-scan oracle ------
    "q132_bloom_prune" -> ((s, dir) => {
      val tmp = gateScratch("q132")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey",
          "l_returnflag", "l_quantity")
      // 16 files: the three probed orders hold ~12 lineitem rows TOTAL,
      // and partkey clustering scatters them one-per-file — the admitted
      // union is bounded by the row count, so 16 files guarantees a
      // strict subset (8 would not: 12 scattered rows can cover all 8)
      li.repartitionByRange(16, col("l_partkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_partkey"))
        .write.parquet(s"$tmp/m")
      // mBits must track per-file key cardinality: ~60k distinct
      // orderkeys land in each of 8 files at sf0.1, and a 4096-bit
      // default would saturate (all files admit). 2^20 bits keeps the
      // fill factor ~18% at sf0.1 → per-value fp < 1%
      ops.Layout.bloomIndex(s, s"$tmp/t", "l_orderkey", mBits = 1 << 20)
        .write.parquet(s"$tmp/bloom")
      ops.Catalog.commit(s, s"$tmp/cat", Map("manifest" -> s"$tmp/m"))
      s.sql(s"SELECT * FROM graft_prune_register(" +
        s"'q132', '$tmp/t', '$tmp/cat', 1)").collect()
      s.sql(s"SELECT * FROM graft_prune_blooms(" +
        s"'q132', '$tmp/bloom', 'l_orderkey', ${1 << 20}, 3)").collect()
      try {
        val res = s.sql(s"""
          |SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
          |FROM graft_catalog_read('$tmp/t', '$tmp/cat', 1)
          |WHERE l_orderkey IN (1, 7, 1000)
          |ORDER BY l_orderkey, l_linenumber""".stripMargin)
        val dataFiles = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
                  if fs.location.rootPaths.exists(_.toString.contains("/t/")) =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(dataFiles.nonEmpty && dataFiles.size < 16,
          s"bloom admission did not prune the scattered key: scanned " +
            s"${dataFiles.size} of 16 files")
        res
      } finally plans.ScanPruneRewrite.unregister("q132")
    }),

    // ---- DYNAMIC FILE SKIPPING FOR JOINS: the dim side's surviving
    // join keys prune the fact scan through the stats manifest BEFORE
    // the join — the file-level runtime filter Spark's row-level bloom
    // (q50) cannot provide. The dim predicate stands in for any
    // selective dimension filter whose surviving keys are delta-scale;
    // against the key-clustered fact layout the admitted set is O(keys'
    // ranges), REQUIREd a strict subset, and the join over the pruned
    // read hash-matches the full-scan join oracle exactly ------------
    "q136_join_skip" -> ((s, dir) => {
      val tmp = gateScratch("q136")
      val li = t(s, dir, "lineitem")
        .select("l_partkey", "l_returnflag", "l_quantity")
      li.repartitionByRange(12, col("l_partkey")).write.parquet(s"$tmp/t")
      val m = ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_partkey"))
        .localCheckpoint(eager = true)
      val dim = t(s, dir, "part")
        .filter(col("p_partkey") % 6000 === 7)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      val pruned = ops.Layout.joinSkipRead(s, s"$tmp/t", Some(m), None,
        dim, "l_partkey")
      val nFiles = pruned.inputFiles.length
      require(nFiles > 0 && nFiles < 12,
        s"join-driven skipping admitted $nFiles of 12 files — the " +
          "delta-scale dim key set must prune the clustered fact")
      pruned.join(dim, Seq("l_partkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- join-driven skipping PAST THE FLAT-MANIFEST CEILING: the
    // two-level manifest's group rollup range-joins the dim keys first,
    // file rows are read only at surviving groups — a 10⁷-file fact
    // absorbs the star-join probe with no consumer collecting its
    // listing. Same losslessness, same oracle shape as q136 ------------
    "q142_join_skip_grouped" -> ((s, dir) => {
      val tmp = gateScratch("q142")
      val li = t(s, dir, "lineitem")
        .select("l_partkey", "l_returnflag", "l_quantity")
      li.repartitionByRange(12, col("l_partkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifestPartitioned(s, s"$tmp/t", Seq("l_partkey"),
        s"$tmp/mf", groupSize = 4)
      val dim = t(s, dir, "part")
        .filter(col("p_partkey") % 6000 === 7)
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      val pruned = ops.Layout.joinSkipRead(s, s"$tmp/t",
        Some(ops.Layout.Manifest.TwoLevel(s"$tmp/mf")), None, dim,
        "l_partkey")
      val nFiles = pruned.inputFiles.length
      require(nFiles > 0 && nFiles < 12,
        s"grouped join skipping admitted $nFiles of 12 files")
      pruned.join(dim, Seq("l_partkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- join skipping under ADVERSE clustering: the fact table is
    // clustered by partkey, so every file's orderkey span is the whole
    // domain and range stats admit everything — but the per-file Bloom
    // index still rejects files holding none of the dim side's
    // orderkeys. SQL-reachable end to end via graft_join_skip_bloom;
    // the join result is exactly the full-scan join ------------------
    "q137_join_skip_bloom" -> ((s, dir) => {
      val tmp = gateScratch("q137")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      // 48 files: the dim keys' ~tens of lineitem rows scatter at most
      // a few files each, so the admitted union stays a strict subset
      li.repartitionByRange(48, col("l_partkey")).write.parquet(s"$tmp/t")
      ops.Layout.bloomIndexSized(s, s"$tmp/t", "l_orderkey")
        .write.parquet(s"$tmp/bloom")
      t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .write.parquet(s"$tmp/dim")
      val pruned = s.sql(s"""
        |SELECT * FROM graft_join_skip_bloom('$tmp/t', '$tmp/bloom',
        |  'l_orderkey', '$tmp/dim', 'o_orderkey',
        |  'o_orderkey % 16384 = 1')""".stripMargin)
      val nFiles = pruned.inputFiles.length
      require(nFiles > 0 && nFiles < 48,
        s"bloom join skipping admitted $nFiles of 48 files")
      val dim = s.read.parquet(s"$tmp/dim")
        .filter(col("o_orderkey") % 16384 === 1)
        .withColumnRenamed("o_orderkey", "l_orderkey")
      pruned.join(dim, Seq("l_orderkey"))
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("o_custkey"), col("l_quantity").cast("double").as("quantity"))
        .orderBy("o_orderkey", "l_linenumber")
    }),

    // ---- MERGE INTO, merge-on-read: one wave of updates + deletes +
    // inserts lands as {DV addresses for matched rows, one append
    // commit, atomic catalog version} — zero base files rewritten
    // (REQUIREd below). The snapshot read then equals the merged table;
    // the oracle reconstructs the same merge in closed form -----------
    "q138_merge_mor" -> ((s, dir) => {
      val tmp = gateScratch("q138")
      val od = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      od.repartitionByRange(8, col("o_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("o_orderkey"))
        .write.parquet(s"$tmp/m0")
      ops.Catalog.commit(s, s"$tmp/cat", Map("manifest" -> s"$tmp/m0"))
      val changes =
        od.filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") + 1000).as("o_totalprice"),
            lit(false).as("is_delete"))
        .unionAll(od.filter(col("o_orderkey") % 100 === 1)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), lit(true).as("is_delete")))
        .unionAll(od.filter(col("o_orderkey") % 100 === 2)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice"),
            lit(false).as("is_delete")))
      val baseFiles = s.read.parquet(s"$tmp/t").inputFiles.toSet
      val v2 = ops.Layout.mergeOnReadCommit(s, s"$tmp/t", s"$tmp/cat",
        tmp, changes, "o_orderkey", "is_delete", Seq("o_orderkey"))
      val refs = ops.Catalog.resolve(s, s"$tmp/cat", v2)
      require(refs.contains("dv"),
        "matched updates/deletes must publish a deletion-vector artifact")
      require(baseFiles.subsetOf(
        s.read.parquet(s"$tmp/t").inputFiles.toSet),
        "merge-on-read must not rewrite or remove any base file")
      ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t",
          s.read.parquet(refs("manifest")), s.read.parquet(refs("dv")))
        .groupBy((col("o_orderkey") % 7).as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
        .orderBy("grp")
    }),

    // ---- SCHEMA EVOLUTION through the column-mapping artifact: the
    // table renames a column, appends an epoch through the NEW logical
    // schema (same physical name — zero rewrites), drops + re-adds a
    // column under a fresh physical name (old values provably never
    // resurrect — REQUIREd), and widens the key type at read. Every
    // flip is an atomic catalog commit; the final read reconciles all
    // epochs in one merge-schema scan and hash-matches the closed-form
    // oracle ---------------------------------------------------------
    "q139_schema_evolution" -> ((s, dir) => {
      val tmp = gateScratch("q139")
      GraftExtensions.register(s)
      val cust = t(s, dir, "customer").select(
        col("c_custkey").cast("int").as("c_custkey"),
        col("c_name"), col("c_acctbal"))
      // v1: table born (c_custkey int, c_name string, c_acctbal double)
      var map = ops.SchemaEvolution.initial(s, cust.schema)
      ops.SchemaEvolution.toPhysical(
          cust.filter(col("c_custkey") % 2 === 0), map)
        .repartitionByRange(4, col("c_custkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("c_custkey"))
        .write.parquet(s"$tmp/m1")
      map.write.parquet(s"$tmp/cm1")
      ops.Catalog.commit(s, s"$tmp/cat",
        Map("manifest" -> s"$tmp/m1", "colmap" -> s"$tmp/cm1"))
      // v2: RENAME c_acctbal -> balance (metadata-only commit)
      map = ops.SchemaEvolution.rename(s, map, "c_acctbal", "balance")
      ops.SchemaEvolution.evolveCommit(s, s"$tmp/cat", tmp, map)
      // v3: epoch-2 append THROUGH the new logical schema — toPhysical
      // writes the original physical column name, no file diverges
      val e2 = cust.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 1).as("balance"))
      val add = ops.Layout.commitAppend(s,
        ops.SchemaEvolution.toPhysical(e2, map), s"$tmp/t", Seq("c_custkey"))
      s.read.parquet(s"$tmp/m1").unionByName(add).write.parquet(s"$tmp/m3")
      ops.Catalog.commit(s, s"$tmp/cat",
        ops.Catalog.resolveCurrent(s, s"$tmp/cat") - "_txn" +
          ("manifest" -> s"$tmp/m3"))
      // v4: DROP c_name; v5: re-ADD c_name as bigint (fresh physical
      // name — the resurrection trap); v6: widen c_custkey int->bigint,
      // driven from pure SQL via the evolution TVF
      map = ops.SchemaEvolution.dropColumn(s, map, "c_name")
      ops.SchemaEvolution.evolveCommit(s, s"$tmp/cat", tmp, map)
      map = ops.SchemaEvolution.addColumn(s, map, "c_name", "bigint")
      ops.SchemaEvolution.evolveCommit(s, s"$tmp/cat", tmp, map)
      s.sql(s"SELECT * FROM graft_evolve('$tmp/cat', '$tmp', " +
        s"'retype', 'c_custkey', 'bigint')").collect()
      val res = s.sql(
        s"SELECT * FROM graft_read_evolved('$tmp/cat', 6)")
      require(res.schema("c_custkey").dataType
        == org.apache.spark.sql.types.LongType,
        "retype must widen the key at read")
      require(res.filter(col("c_name").isNotNull).isEmpty,
        "dropped column's values resurrected into the re-added column")
      res.orderBy("c_custkey")
    }),

    // ---- STREAMING clustering maintenance: each micro-batch appends
    // row-ordered via its own commit dir (manifest rows union — no
    // directory-listing diff, so superseded files can never re-enter)
    // and commits; every second batch runs the O(appends) delta
    // clustering pass from the last optimized version. The table stays
    // continuously z-clustered under ingest — the auto-OPTIMIZE loop a
    // long-lived 100 TB table runs — and the final version's 2-D box
    // query REQUIREs a pruned plan, then hash-matches the batch oracle
    "s44_stream_cluster_maintain" -> ((s, dir) => {
      val tmp = gateScratch("s44")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_quantity")
      val inDir = java.nio.file.Paths.get(tmp, "in")
      java.nio.file.Files.createDirectories(inDir)
      (0 until 4).foreach { k =>
        val shardTmp = s"$tmp/shard$k"
        li.filter(pmod(col("l_orderkey"), lit(4)) === k)
          .coalesce(1).write.parquet(shardTmp)
        val part = new java.io.File(shardTmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = inDir.resolve(f"batch-$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + k * 60000L))
      }
      val zStats = Seq("l_partkey", "l_suppkey")
      li.limit(0).coalesce(1).write.parquet(s"$tmp/t")
      val m0 = ops.Layout.statsManifest(s, s"$tmp/t", zStats)
        .localCheckpoint(eager = true)
      m0.write.parquet(s"$tmp/m/v0")
      val cat = s"$tmp/catalog"
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/m/v0"))
      var manifest = s.read.parquet(s"$tmp/m/v0")
      var lastOpt = 1 // catalog version whose files are all clustered
      val inSchema = s.read.parquet(inDir.toString).schema
      withNarrowState(s) {
        val q = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            val add = ops.Layout.commitAppend(s,
              batch.repartitionByRange(2, col("l_orderkey")),
              s"$tmp/t", zStats)
            // planner-scale artifact (1-file read ∪ coalesced stats):
            // single-task persist, or the chain snowballs part files
            manifest.unionByName(add).coalesce(1)
              .write.parquet(s"$tmp/m/a$bid")
            manifest = s.read.parquet(s"$tmp/m/a$bid")
            ops.Catalog.commitIdempotent(s, cat, s"append-$bid",
              Map("manifest" -> s"$tmp/m/a$bid"))
            if (bid % 2 == 1) {
              // maintenance: cluster ONLY the files landed since the
              // last optimized version (AvailableNow = no replays, so
              // the pass's own commit needs no txn key)
              lastOpt = ops.Layout.optimizeZorderDelta(s, s"$tmp/t", cat,
                tmp, baseVersion = lastOpt, "l_partkey", "l_suppkey",
                bits = 15, numFiles = 4, statsCols = zStats)
              manifest = s.read.parquet(
                ops.Catalog.resolve(s, cat, lastOpt)("manifest"))
            }
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      GraftExtensions.register(s)
      val vFinal = ops.Versions.current(cat)(s)
      val nFiles = s.read.parquet(
        ops.Catalog.resolve(s, cat, vFinal)("manifest")).count()
      s.sql(s"SELECT * FROM graft_prune_register(" +
        s"'s44', '$tmp/t', '$cat', $vFinal)").collect()
      try {
        val res = s.sql(s"""
          |SELECT l_returnflag, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_qty
          |FROM graft_catalog_read('$tmp/t', '$cat', $vFinal)
          |WHERE l_partkey BETWEEN 50 AND 150
          |  AND l_suppkey BETWEEN 1 AND 5
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        val dataFiles = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
                  if fs.location.rootPaths.exists(_.toString.contains("/t/")) =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(dataFiles.nonEmpty && dataFiles.size < nFiles,
          s"continuously-clustered table did not prune: scanned " +
            s"${dataFiles.size} of $nFiles files")
        res
      } finally plans.ScanPruneRewrite.unregister("s44")
    }),

    // ---- AUTOMATIC join-driven file skipping: with the fact's catalog
    // version prune-registered AND join-skip-registered, a PLAIN SQL
    // star join — no pruning verb anywhere in the query — evaluates the
    // dim side's surviving keys at optimization, injects the lossless
    // key conjunct, and reads only the fact files that can hold a
    // match (both REQUIREd on the plan). Same oracle as the explicit
    // q136 verb: the rewrite must be invisible in the rows ------------
    "q141_join_skip_auto" -> ((s, dir) => {
      val tmp = gateScratch("q141")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem")
        .select("l_partkey", "l_returnflag", "l_quantity")
      li.repartitionByRange(12, col("l_partkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_partkey"))
        .write.parquet(s"$tmp/m")
      ops.Catalog.commit(s, s"$tmp/cat", Map("manifest" -> s"$tmp/m"))
      t(s, dir, "part").select("p_partkey", "p_brand")
        .write.parquet(s"$tmp/dim")
      s.sql(s"SELECT * FROM graft_prune_register(" +
        s"'q141', '$tmp/t', '$tmp/cat', 1)").collect()
      s.sql(s"SELECT * FROM graft_join_skip_register(" +
        s"'q141', 'l_partkey', 10000)").collect()
      try {
        val res = s.sql(s"""
          |SELECT l_returnflag, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_qty
          |FROM graft_catalog_read('$tmp/t', '$tmp/cat', 1) f
          |JOIN parquet.`$tmp/dim` p ON f.l_partkey = p.p_partkey
          |WHERE p.p_partkey % 6000 = 7
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        val plan0 = res.queryExecution.optimizedPlan
        require(plan0.exists {
          case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) =>
            c.exists(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.InSet])
          case _ => false
        }, "join-skip rule did not inject the key conjunct")
        val nFiles = plan0.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
                  if fs.location.rootPaths.exists(_.toString.contains("/t/")) =>
                fs.location.inputFiles.length.toLong
              case _ => 0L
            }
        }.sum
        require(nFiles > 0 && nFiles < 12,
          s"automatic join skipping scanned $nFiles of 12 fact files")
        res
      } finally plans.ScanPruneRewrite.unregister("q141")
    }),

    // ---- AUTO-OPTIMIZE: the manifest itself decides the maintenance
    // action. After a full z-order pass, a no-op wave returns "none"
    // (zero work), a small append wave re-clusters at O(appends)
    // ("delta"), and a wave past the threshold triggers the amortized
    // full rewrite ("full") — all three REQUIREd. The final version's
    // 2-D box query prunes through the automatic rewrite and
    // hash-matches the whole-table oracle (layout-only, content never
    // changes) ---------------------------------------------------------
    "q140_auto_optimize" -> ((s, dir) => {
      val tmp = gateScratch("q140")
      GraftExtensions.register(s)
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
          "l_quantity")
      val zStats = Seq("l_partkey", "l_suppkey")
      li.filter(col("l_orderkey") % 2 === 0)
        .repartitionByRange(8, col("l_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", zStats)
        .write.parquet(s"$tmp/m1")
      val cat = s"$tmp/cat"
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/m1"))
      var lastOpt = ops.Layout.optimizeZorder(s, s"$tmp/t", cat, tmp,
        "l_partkey", "l_suppkey", bits = 15, numFiles = 16,
        statsCols = zStats)
      def appendWave(pred: org.apache.spark.sql.Column, nf: Int): Unit = {
        val add = ops.Layout.commitAppend(s,
          li.filter(pred).repartitionByRange(nf, col("l_orderkey")),
          s"$tmp/t", zStats)
        val curV = ops.Versions.current(cat)(s)
        val m = s.read.parquet(ops.Catalog.ref(s, cat, curV, "manifest"))
        val mDir = s"$tmp/m-wave-${curV + 1}"
        m.unionByName(add).write.parquet(mDir)
        ops.Catalog.commit(s, cat, Map("manifest" -> mDir))
      }
      def maintain() = ops.Layout.maintainClustering(s, s"$tmp/t", cat,
        tmp, "l_partkey", "l_suppkey", bits = 15, numFiles = 16,
        statsCols = zStats, lastOptimizedVersion = lastOpt)
      // nothing appended since the optimize -> zero work
      val (a0, v0) = maintain()
      require(a0 == "none" && v0 == lastOpt,
        s"expected no-op maintenance, got ($a0, $v0)")
      // small wave (2 of 18 files) -> O(appends) delta pass
      appendWave(col("l_orderkey") % 8 === 1, 2)
      val (a1, v1) = maintain()
      require(a1 == "delta", s"expected delta maintenance, got $a1")
      lastOpt = v1
      // big wave (12 of 30 files, past the 0.3 threshold) -> full pass
      appendWave(col("l_orderkey") % 2 === 1 &&
        col("l_orderkey") % 8 =!= 1, 12)
      val (a2, v2) = maintain()
      require(a2 == "full", s"expected full re-optimize, got $a2")
      s.sql(s"SELECT * FROM graft_prune_register(" +
        s"'q140', '$tmp/t', '$cat', $v2)").collect()
      try {
        val res = s.sql(s"""
          |SELECT l_returnflag, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_qty
          |FROM graft_catalog_read('$tmp/t', '$cat', $v2)
          |WHERE l_partkey BETWEEN 50 AND 150
          |  AND l_suppkey BETWEEN 1 AND 5
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        val dataFiles = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
                  if fs.location.rootPaths.exists(_.toString.contains("/t/")) =>
                fs.location.rootPaths.map(_.toString)
              case _ => Seq.empty[String]
            }
        }.flatten
        require(dataFiles.nonEmpty && dataFiles.size < 16,
          s"auto-optimized table did not prune: scanned " +
            s"${dataFiles.size} of 16 files")
        res
      } finally plans.ScanPruneRewrite.unregister("q140")
    }),

    // ---- MERGE past the flat-manifest ceiling: the same upsert wave
    // as q138, served through the TWO-LEVEL manifest — address
    // resolution prunes by group rollup first, upserts absorb into the
    // tail group at O(new data), and no step ever collects the whole
    // file listing. Same closed-form oracle as q138 -------------------
    "q144_merge_grouped" -> ((s, dir) => {
      val tmp = gateScratch("q144")
      val od = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      od.repartitionByRange(12, col("o_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifestPartitioned(s, s"$tmp/t", Seq("o_orderkey"),
        s"$tmp/mf", groupSize = 4)
      val changes =
        od.filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") + 1000).as("o_totalprice"),
            lit(false).as("is_delete"))
        .unionAll(od.filter(col("o_orderkey") % 100 === 1)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), lit(true).as("is_delete")))
        .unionAll(od.filter(col("o_orderkey") % 100 === 2)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice"),
            lit(false).as("is_delete")))
      val dv = ops.Layout.mergeOnReadGrouped(s, s"$tmp/t", s"$tmp/mf",
        None, changes, "o_orderkey", "is_delete", Seq("o_orderkey"),
        groupSize = 4)
      ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t",
          s.read.parquet(s"$tmp/mf/files"), dv)
        .groupBy((col("o_orderkey") % 7).as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
        .orderBy("grp")
    }),

    // ---- THE DBA SESSION: every lifecycle verb issued as a SQL
    // statement against one table — stats (graft_stats via INSERT
    // OVERWRITE DIRECTORY), catalog commit (graft_catalog_commit),
    // OPTIMIZE (graft_optimize_zorder), MERGE (graft_merge_table),
    // auto-maintenance routing (graft_maintain, REQUIREd to take the
    // delta pass for the 1-file wave), timestamp time travel
    // (graft_as_of, REQUIREd to resolve both worlds), VACUUM
    // (graft_vacuum, REQUIREd to reclaim the superseded artifacts),
    // and the read-back (graft_catalog_read) — proving no verb is
    // SQL-reachable only in isolation. Oracle = the merged snapshot in
    // closed form (clustering changes layout, never rows) ------------
    "q147_dba_session" -> ((s, dir) => {
      val tmp = gateScratch("q147")
      GraftExtensions.register(s)
      val od = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      od.repartitionByRange(8, col("o_orderkey")).write.parquet(s"$tmp/t")
      od.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 1000).as("o_totalprice"),
          lit(false).as("is_delete"))
        .unionAll(od.filter(col("o_orderkey") % 100 === 1)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), lit(true).as("is_delete")))
        .unionAll(od.filter(col("o_orderkey") % 100 === 2)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice"),
            lit(false).as("is_delete")))
        .coalesce(1) // one changeset file -> the delta routing below
        .write.parquet(s"$tmp/changes")
      // 1. manifest + catalog birth, all SQL
      s.sql(s"INSERT OVERWRITE DIRECTORY '$tmp/arts/m1' USING PARQUET " +
        s"SELECT * FROM graft_stats('$tmp/t', 'o_orderkey')")
      val v1 = s.sql(s"SELECT * FROM graft_catalog_commit('$tmp/cat', " +
        s"'manifest=$tmp/arts/m1', 1000)").head().getInt(0)
      require(v1 == 1, s"birth commit must be v1, got $v1")
      // 2. OPTIMIZE ZORDER -> v2
      s.sql(s"SELECT * FROM graft_optimize_zorder('$tmp/t', '$tmp/cat', " +
        s"'$tmp/arts', 'o_custkey', 'o_orderkey', 21, 16, " +
        s"'o_custkey,o_orderkey')").collect()
      // 3. MERGE the changeset -> v3 (DV + one appended upsert file)
      val v3 = s.sql(s"SELECT * FROM graft_merge_table('$tmp/t', " +
        s"'$tmp/cat', '$tmp/arts', '$tmp/changes', 'o_orderkey', " +
        s"'is_delete', 'o_custkey,o_orderkey')").head().getInt(0)
      require(v3 == 3, s"merge must land as v3, got $v3")
      // 4. auto-maintenance: a 1-file wave over 16 clustered files must
      // route DELTA (q140's contract), -> v4
      val mrow = s.sql(s"SELECT * FROM graft_maintain('$tmp/t', " +
        s"'$tmp/cat', '$tmp/arts', 'o_custkey', 'o_orderkey', 21, 16, " +
        s"'o_custkey,o_orderkey', 2)").head()
      require(mrow.getString(0) == "delta",
        s"1-file wave must take the delta pass, got ${mrow.getString(0)}")
      val v4 = mrow.getInt(1)
      // 5. timestamp time travel resolves BOTH worlds before vacuum
      require(s.sql(s"SELECT * FROM graft_as_of('$tmp/cat', 1500)")
        .head().getInt(0) == 1, "as-of 1500 must resolve the birth commit")
      require(s.sql(
        s"SELECT * FROM graft_as_of('$tmp/cat', ${Long.MaxValue})")
        .head().getInt(0) == v4, "as-of now must resolve the newest version")
      // 6. VACUUM to the newest version; superseded artifacts reclaimed
      val nDeleted = s.sql(
        s"SELECT * FROM graft_vacuum('$tmp/cat', 1, '$tmp/arts')").count()
      require(nDeleted > 0, "vacuum must reclaim the superseded artifacts")
      // 7. read back the final world, pure SQL
      s.sql(s"""
        |SELECT o_orderkey % 7 AS grp, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total
        |FROM graft_catalog_read('$tmp/t', '$tmp/cat', $v4)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
    }),

    // ---- GENUINELY CONCURRENT WRITERS: two REAL threads race 20
    // read-modify-write commits each against ONE catalog through
    // commitRetry (CAS + re-prepare on conflict). What q105 proves for
    // interleaved-sequential writers, this proves under actual races:
    // 40 distinct versions, every version's world = its predecessor's
    // plus exactly one artifact (linearizable history), zero lost
    // updates — the failure mode that silently destroys data in any
    // deployment with two ingest jobs ---------------------------------
    "q145_concurrent_commits" -> ((s, dir) => {
      val tmp = gateScratch("q145")
      val cat = s"$tmp/cat"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val start = new java.util.concurrent.CountDownLatch(1)
      def writer(tag: String) =
        pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
          def call(): Seq[Int] = {
            start.await()
            (1 to 20).map { i =>
              ops.Catalog.commitRetry(s, cat,
                base => base + (s"$tag-$i" -> s"ref/$tag-$i"))
            }
          }
        })
      val fa = writer("a"); val fb = writer("b")
      start.countDown()
      val got = (fa.get(120, java.util.concurrent.TimeUnit.SECONDS) ++
        fb.get(120, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
      require(got.toSet.size == 40,
        s"two commits shared a version: ${got.sorted.mkString(",")}")
      val vs = ops.Versions.listVersions(cat)(s)
      require(vs == (1 to 40),
        s"history is not dense 1..40: ${vs.mkString(",")}")
      val finalKeys = ops.Catalog.resolveCurrent(s, cat).keySet
      val want = (1 to 20).flatMap(i => Seq(s"a-$i", s"b-$i")).toSet
      require(finalKeys == want,
        s"lost updates: missing ${(want -- finalKeys).mkString(",")}")
      // linearizable chain, emitted as data so the oracle pins it
      var prev = Set.empty[String]
      val rows = (1 to 40).map { v =>
        val w = ops.Catalog.resolve(s, cat, v).keySet
        val chained = prev.subsetOf(w) && w.size == v
        prev = w
        (v, w.size.toLong, chained)
      }
      import s.implicits._
      rows.toDF("version", "n_artifacts", "carries_prior")
        .orderBy("version")
    }),

    // ---- TIMESTAMP TIME TRAVEL: commits stamped with a commit time
    // (caller-injected here for determinism; wall clock by default),
    // resolveAsOf(ts) = newest version committed at-or-before ts — "the
    // table as of yesterday 14:00" without knowing version numbers.
    // Pre-history timestamps refuse loudly (REQUIREd) -----------------
    "q146_time_travel_ts" -> ((s, dir) => {
      val tmp = gateScratch("q146")
      val cat = s"$tmp/cat"
      val od = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      od.filter(col("o_orderkey") % 2 === 0)
        .repartitionByRange(4, col("o_orderkey")).write.parquet(s"$tmp/t")
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("o_orderkey"))
      m1.write.parquet(s"$tmp/m1")
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/m1"),
        committedAt = Some(1000L))
      od.filter(col("o_orderkey") % 2 === 1)
        .repartitionByRange(4, col("o_orderkey"))
        .write.mode("append").parquet(s"$tmp/t")
      ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("o_orderkey"))
        .write.parquet(s"$tmp/m2")
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/m2"),
        committedAt = Some(2000L))
      val refused =
        try { ops.Catalog.resolveAsOf(s, cat, 1L); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "pre-history timestamp must refuse")
      def world(ts: Long): DataFrame = {
        val v = ops.Catalog.resolveAsOf(s, cat, ts)
        val manifest = s.read.parquet(ops.Catalog.ref(s, cat, v, "manifest"))
        ops.Layout.snapshotRead(s, s"$tmp/t", manifest)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
          .select(lit(ts).as("as_of"), lit(v).as("version"),
            col("n_rows"), col("sum_price"))
      }
      world(1500L).unionAll(world(2500L)).orderBy("as_of")
    }),

    // ---- CONCURRENT WRITERS ON THE SAME ARTIFACT: q145 proves the
    // POINTER under real races, but its writers add disjoint keys; the
    // production shape is two ingest jobs growing ONE table's ONE
    // manifest. Two real threads each append wave files, run
    // extendManifest against the CURRENT base from commitRetry's
    // prepare, and commit the extended manifest — so the loser's
    // re-prepare must re-extend against the winner's manifest, the
    // exact step a stale-base caller would skip (silently dropping the
    // winner's files). REQUIREd: dense 11-version history, every
    // version's file set = its predecessor's plus exactly one writer's
    // wave, all 10 waves present; the emitted rows pin the final
    // content (seed + both writers' full residue classes) against the
    // oracle ----------------------------------------------------------
    "q148_concurrent_manifest" -> ((s, dir) => {
      val tmp = gateScratch("q148")
      val cat = s"$tmp/cat"
      val od = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      od.filter(col("o_orderkey") % 4 === 0)
        .repartitionByRange(4, col("o_orderkey"))
        .write.parquet(s"$tmp/t/seed")
      ops.Layout.statsManifest(s, s"$tmp/t/seed", Seq("o_orderkey"))
        .write.parquet(s"$tmp/arts/m-seed")
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/arts/m-seed"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val start = new java.util.concurrent.CountDownLatch(1)
      // writer `tag` owns residue class `r0` of o_orderkey % 4; wave i
      // carries the %20 == r0 + 4i slice, so the 5 waves tile the class
      def writer(tag: String, r0: Int) =
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            start.await()
            (0 until 5).foreach { i =>
              val waveDir = s"$tmp/t/$tag$i"
              od.filter(col("o_orderkey") % 20 === (r0 + 4 * i))
                .coalesce(1).write.parquet(waveDir)
              ops.Catalog.commitRetry(s, cat, base => {
                // re-extend against WHATEVER base this attempt sees —
                // stale-base extends are exactly what loses rows
                val bm = s.read.parquet(base("manifest"))
                val ext = ops.Layout.extendManifest(s, waveDir, bm,
                  Seq("o_orderkey"))
                val ref = s"$tmp/arts/m-$tag$i-" +
                  java.util.UUID.randomUUID().toString
                ext.write.parquet(ref)
                base + ("manifest" -> ref)
              })
            }
          }
        })
      val fa = writer("a", 1); val fb = writer("b", 3)
      start.countDown()
      fa.get(300, java.util.concurrent.TimeUnit.SECONDS)
      fb.get(300, java.util.concurrent.TimeUnit.SECONDS)
      pool.shutdown()
      val vs = ops.Versions.listVersions(cat)(s)
      require(vs == (1 to 11), s"history not dense 1..11: ${vs.mkString(",")}")
      def fileSet(v: Int): Set[String] =
        s.read.parquet(ops.Catalog.ref(s, cat, v, "manifest"))
          .select("file").collect().map(r =>
            new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath).toSet
      var prev = fileSet(1)
      var wavesSeen = Set.empty[String]
      (2 to 11).foreach { v =>
        val cur = fileSet(v)
        require(prev.subsetOf(cur),
          s"v$v lost predecessor files — a stale-base extend landed")
        val delta = cur -- prev
        val waveDirs = delta.map(p =>
          new org.apache.hadoop.fs.Path(p).getParent.getName)
        require(waveDirs.size == 1,
          s"v$v's delta spans several waves: $waveDirs")
        require(!wavesSeen.contains(waveDirs.head),
          s"wave ${waveDirs.head} committed twice")
        wavesSeen ++= waveDirs
        prev = cur
      }
      require(wavesSeen ==
        (0 until 5).flatMap(i => Seq(s"a$i", s"b$i")).toSet,
        s"missing waves: got $wavesSeen")
      val finalM = s.read.parquet(ops.Catalog.ref(s, cat, 11, "manifest"))
      ops.Layout.snapshotRead(s, s"$tmp/t", finalM)
        .groupBy((col("o_orderkey") % 7).as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy("grp")
    }),

    // ---- CONCURRENT GROWTH OF ONE DV SET: the mutation-side sibling
    // of q148 — two takedown feeds race commitRetry on the SAME "dv"
    // artifact, each union-ing its wave's addresses onto the CURRENT
    // base DV. A loser that kept its stale union would silently
    // resurrect the winner's deleted rows; REQUIREd instead: DV sets
    // grow monotonically version over version and the final DV is the
    // exact union of all ten waves. Emitted rows pin the surviving
    // table content -----------------------------------------------------
    "q149_concurrent_dv" -> ((s, dir) => {
      val tmp = gateScratch("q149")
      val cat = s"$tmp/cat"
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      li.repartitionByRange(4, col("l_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("l_orderkey"))
        .write.parquet(s"$tmp/arts/m")
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/arts/m"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val start = new java.util.concurrent.CountDownLatch(1)
      // writer `tag` deletes residues r0, r0+2, ... of l_orderkey % 20
      // (a: evens 0..8, b: odds 1..9) — disjoint waves, union = %20 < 10
      def writer(tag: String, r0: Int) =
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            start.await()
            (0 until 5).foreach { i =>
              // address resolution once per wave (table is static);
              // the union against the current base re-runs per attempt
              val waveDv = ops.Layout.deletionVectors(s, s"$tmp/t",
                  col("l_orderkey") % 20 === (r0 + 2 * i))
                .localCheckpoint(eager = true)
              ops.Catalog.commitRetry(s, cat, base => {
                val dv = base.get("dv")
                  .map(p => s.read.parquet(p).unionAll(waveDv))
                  .getOrElse(waveDv)
                val ref = s"$tmp/arts/dv-$tag$i-" +
                  java.util.UUID.randomUUID().toString
                // delta-scale artifact: single-task persist (guide §6)
                // — each version otherwise inherits its predecessor's
                // part files plus the wave's, and by v11 every commit
                // attempt re-reads ~40 tiny files (measured 15.5 s of
                // this gate's 27 s profile)
                dv.coalesce(1).write.parquet(ref)
                base + ("dv" -> ref)
              })
            }
          }
        })
      val fa = writer("a", 0); val fb = writer("b", 1)
      start.countDown()
      fa.get(300, java.util.concurrent.TimeUnit.SECONDS)
      fb.get(300, java.util.concurrent.TimeUnit.SECONDS)
      pool.shutdown()
      val vs = ops.Versions.listVersions(cat)(s)
      require(vs == (1 to 11), s"history not dense 1..11: ${vs.mkString(",")}")
      def dvAt(v: Int): DataFrame =
        s.read.parquet(ops.Catalog.ref(s, cat, v, "dv"))
      // same assertion as the per-pair loop (v_{k-1} ⊆ v_k for every
      // consecutive committed pair), folded into ONE action: nine
      // except().count() queries were 9 AQE executions' worth of jobs
      // and broadcast futures in the r20 profile. (file, pos) is
      // non-null by construction, so the anti-join ≡ except here.
      val tagged = (2 to 11).map(v => dvAt(v)
        .select(col("file"), col("pos"), lit(v).as("graft_v")))
        .reduce(_ unionAll _).localCheckpoint(eager = true)
      val lostRows = tagged.filter(col("graft_v") < 11)
        .withColumn("graft_v", col("graft_v") + 1)
        .join(tagged, Seq("file", "pos", "graft_v"), "left_anti")
        .groupBy("graft_v").agg(count(lit(1)).as("lost"))
        .collect()
      require(lostRows.isEmpty,
        "resurrected deleted rows — a stale-base union landed: " +
          lostRows.map(r => s"v${r.getInt(0)}: ${r.getLong(1)}")
            .mkString(", "))
      val expected = ops.Layout.deletionVectors(s, s"$tmp/t",
        col("l_orderkey") % 20 < 10)
      // exact-set equality as one symmetric-difference action instead
      // of two except().count() queries (emptiness is equivalent)
      val symDiff = tagged.filter(col("graft_v") === 11)
        .select(col("file"), col("pos"), lit(1).as("graft_f"))
        .join(expected.withColumn("graft_e", lit(1)),
          Seq("file", "pos"), "full_outer")
        .filter(col("graft_f").isNull || col("graft_e").isNull)
        .count()
      require(symDiff == 0L,
        "final DV must be the exact union of all ten waves")
      ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t",
          s.read.parquet(ops.Catalog.ref(s, cat, 11, "manifest")), dvAt(11))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- PARTITION TUPLES IN MANIFESTS: a hive-partitioned table gets
    // the same zero-listing snapshot read as a flat one — statsManifest
    // records each file's partition value (`part_<col>`, the Iceberg
    // manifest-entry model), snapshotRead reconstructs the partition
    // column through ManifestFileIndex, a partition filter prunes
    // partitions from the RECORDED tuples (numFiles metric REQUIREd,
    // no directory listing), and partition pruning composes with
    // min/max stats pruning (a manifest filter on part_p AND the id
    // span admits exactly the intersection's files). Phase 1 pins the
    // reconstructed content, phase 2 the composed prune's result -------
    "q150_partitioned_manifest" -> ((s, dir) => {
      val tmp = gateScratch("q150")
      val od = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        .withColumn("p", (col("o_orderkey") % 4).cast("int"))
      od.repartitionByRange(2, col("o_orderkey"))
        .write.partitionBy("p").parquet(s"$tmp/t")
      val m = ops.Layout.statsManifest(s, s"$tmp/t", Seq("o_orderkey"))
        .localCheckpoint(eager = true)
      require(m.columns.contains("part_p") &&
        m.filter(col("part_p").isNull).count() == 0,
        "manifest must record every file's partition tuple")
      val snap = ops.Layout.snapshotRead(s, s"$tmp/t", m)
      require(snap.columns.contains("p"),
        "snapshot read must reconstruct the partition column")
      // partition filter prunes partitions from recorded tuples: the
      // executed scan reads only partition 2's files (2 of 8)
      val part2 = snap.filter(col("p") === 2)
      part2.collect()
      val numFiles = part2.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(-1L)
      require(numFiles == 2,
        s"partition pruning must scan 2 of 8 files, scanned $numFiles")
      // composed partition + stats prune: part_p = 2 AND key span
      val admitted = m.filter(col("part_p") === 2 &&
        col("max_o_orderkey") >= 100L && col("min_o_orderkey") <= 2000L)
      val pruned = ops.Layout.snapshotRead(s, s"$tmp/t", admitted)
        .filter(col("o_orderkey").between(100L, 2000L))
      require(pruned.inputFiles.length < 8 && pruned.inputFiles.length >= 1,
        s"composed prune admitted ${pruned.inputFiles.length} of 8 files")
      require(pruned.inputFiles.forall(_.contains("p=2")),
        "composed prune admitted a file outside partition 2")
      def agg(df: DataFrame, phase: Int) = df
        .groupBy(lit(phase).as("phase"), col("p").cast("int").as("p"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
      agg(snap, 1).unionAll(agg(pruned, 2)).orderBy("phase", "p")
    }),

    // ---- partition tuples through the TWO-LEVEL layout: the grouped
    // build records part_<col> like the flat one, grouped pruned reads
    // reconstruct the partition column zero-listing, the partition
    // filter prunes at execution from RECORDED tuples, and the grouped
    // extend absorbs a partition-preserving append wave ---------------
    "q151_partitioned_grouped" -> ((s, dir) => {
      val tmp = gateScratch("q151")
      val od = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        .withColumn("p", (col("o_orderkey") % 4).cast("int"))
      od.repartitionByRange(3, col("o_orderkey"))
        .write.partitionBy("p").parquet(s"$tmp/t")
      ops.Layout.statsManifestPartitioned(s, s"$tmp/t", Seq("o_orderkey"),
        s"$tmp/mf", groupSize = 4L)
      val filesTab = s.read.parquet(s"$tmp/mf/files")
      val nFiles = filesTab.count()
      require(filesTab.columns.contains("part_p") &&
        filesTab.filter(col("part_p").isNull).count() == 0,
        "grouped manifest must record every file's partition tuple")
      // phase 1: the full snapshot through the grouped layout
      val snap = ops.Layout.prunedRead(s, s"$tmp/t",
        ops.Layout.Manifest.TwoLevel(s"$tmp/mf"),
        "o_orderkey", lit(0L), lit(Long.MaxValue))
      require(snap.columns.contains("p"),
        "grouped pruned read must reconstruct the partition column")
      // phase 2: range probe composed with a partition filter — the
      // executed scan prunes partitions from recorded tuples (no
      // listing), on top of the group/stats admission
      val probed = ops.Layout.prunedRead(s, s"$tmp/t",
        ops.Layout.Manifest.TwoLevel(s"$tmp/mf"),
        "o_orderkey", lit(100L), lit(2000L)).filter(col("p") === 2)
      probed.collect()
      val numFiles = probed.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(-1L)
      require(numFiles >= 1 && numFiles < nFiles,
        s"composed partition+stats prune must scan a strict subset: " +
          s"$numFiles of $nFiles files")
      // append wave (3e6 ≡ 0 mod 4 keeps p = o_orderkey % 4) absorbed
      // by the grouped extend, tuples recorded for the new files
      od.filter(col("o_orderkey") % 10 === 7)
        .select((col("o_orderkey") + 3000000L).as("o_orderkey"),
          col("o_totalprice"), col("p"))
        .coalesce(1).write.mode("append").partitionBy("p")
        .parquet(s"$tmp/t")
      ops.Layout.extendManifestGrouped(s, s"$tmp/t", s"$tmp/mf",
        Seq("o_orderkey"), groupSize = 4L)
      require(s.read.parquet(s"$tmp/mf/files")
        .filter(col("part_p").isNull).count() == 0,
        "grouped extend must record the new files' partition tuples")
      // phase 3: probe isolated to the new wave, one partition
      val wave = ops.Layout.prunedRead(s, s"$tmp/t",
        ops.Layout.Manifest.TwoLevel(s"$tmp/mf"),
        "o_orderkey", lit(3000000L), lit(Long.MaxValue))
        .filter(col("p") === 3)
      def agg(df: DataFrame, phase: Int) = df
        .groupBy(lit(phase).as("phase"), col("p").cast("int").as("p"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
      agg(snap, 1).unionAll(agg(probed, 2)).unionAll(agg(wave, 3))
        .orderBy("phase", "p")
    }),

    // ---- partitioned CDC: the change feed of a hive-partitioned
    // table between two (manifest, DV) versions keeps its partition
    // column — inserts from the appended wave's files (read with
    // basePath), deletes from the DV delta on shared files; the diff
    // scans only changed files, never the table --------------------
    "q152_partitioned_cdc" -> ((s, dir) => {
      val tmp = gateScratch("q152")
      val od = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
        .withColumn("p", (col("o_orderkey") % 4).cast("int"))
      od.repartitionByRange(2, col("o_orderkey"))
        .write.partitionBy("p").parquet(s"$tmp/t")
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("o_orderkey"))
        .localCheckpoint(eager = true)
      val dv1 = ops.Layout.deletionVectors(s, s"$tmp/t", lit(false))
        .localCheckpoint(eager = true)
      // wave: append shifted keys (3e6 ≡ 0 mod 4 preserves p), then
      // DV-delete every original key ≡ 5 (mod 100) — all in p = 1
      od.filter(col("o_orderkey") % 10 === 7)
        .select((col("o_orderkey") + 3000000L).as("o_orderkey"),
          col("o_totalprice"), col("p"))
        .coalesce(1).write.mode("append").partitionBy("p")
        .parquet(s"$tmp/t")
      val m2 = ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("o_orderkey"))
        .localCheckpoint(eager = true)
      val dv2 = ops.Layout.deletionVectorsForKeys(s, s"$tmp/t",
        od.filter(col("o_orderkey") % 100 === 5).select("o_orderkey"),
        "o_orderkey").localCheckpoint(eager = true)
      val diff = ops.Layout.snapshotDiff(s, s"$tmp/t", m1, m2, dv1, dv2)
      require(diff.columns.toSeq ==
        Seq("o_orderkey", "o_totalprice", "p", "_change_type"),
        s"partitioned CDC must keep the partition column: ${diff.columns.toSeq}")
      diff.groupBy(col("_change_type"), col("p").cast("int").as("p"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy("_change_type", "p")
    }),

    // ---- THE LAKE LIFECYCLE, END TO END: merge-on-read waves accrue
    // DV debt and row-ordered append files; the manifest-driven
    // maintenance (driven from SQL via graft_maintain) folds them — a
    // small wave triggers the O(appends) delta pass (DV carried for
    // base files), a big wave the full rewrite (DV artifact dropped,
    // REQUIREd); the final version's 2-D box query prunes through the
    // automatic rewrite and equals the folded changesets in closed
    // form. Write cheap, stay fast to read — the whole posture in one
    // gate ------------------------------------------------------------
    "q143_lake_lifecycle" -> ((s, dir) => {
      val tmp = gateScratch("q143")
      GraftExtensions.register(s)
      val od = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val zStats = Seq("o_custkey", "o_orderkey")
      od.repartitionByRange(12, col("o_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", zStats).write.parquet(s"$tmp/m1")
      val cat = s"$tmp/cat"
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/m1"))
      var lastOpt = ops.Layout.optimizeZorder(s, s"$tmp/t", cat, tmp,
        "o_custkey", "o_orderkey", bits = 21, numFiles = 16,
        statsCols = zStats)
      def maintainSql(): (String, Int) = {
        val r = s.sql(s"SELECT * FROM graft_maintain('$tmp/t', '$cat', " +
          s"'$tmp', 'o_custkey', 'o_orderkey', 21, 16, " +
          s"'o_custkey,o_orderkey', $lastOpt)").head()
        (r.getString(0), r.getInt(1))
      }
      // wave 1: one-file mixed changeset (update / delete / insert)
      val w1 = (
        od.filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") + 1000).as("o_totalprice"),
            lit(false).as("is_delete"))
        .unionAll(od.filter(col("o_orderkey") % 100 === 1)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), lit(true).as("is_delete")))
        .unionAll(od.filter(col("o_orderkey") % 100 === 2)
          .select((col("o_orderkey") + 2000000L).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice"),
            lit(false).as("is_delete")))
      ).coalesce(1)
      ops.Layout.mergeOnReadCommit(s, s"$tmp/t", cat, tmp, w1,
        "o_orderkey", "is_delete", zStats)
      val (a1, v1) = maintainSql()
      require(a1 == "delta",
        s"one appended file of 17 must take the delta pass, got $a1")
      lastOpt = v1
      // wave 2: a 10-file update wave — past the threshold
      val w2 = od.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 7).as("o_totalprice"),
          lit(false).as("is_delete"))
        .repartitionByRange(10, col("o_orderkey"))
      ops.Layout.mergeOnReadCommit(s, s"$tmp/t", cat, tmp, w2,
        "o_orderkey", "is_delete", zStats)
      val (a2, v2) = maintainSql()
      require(a2 == "full",
        s"ten appended files of ~27 must take the full pass, got $a2")
      require(!ops.Catalog.resolve(s, cat, v2).contains("dv"),
        "the full maintenance pass must fold the accrued DV debt")
      s.sql(s"SELECT * FROM graft_prune_register(" +
        s"'q143', '$tmp/t', '$cat', $v2)").collect()
      try {
        val res = s.sql(s"""
          |SELECT o_custkey % 5 AS grp, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS total
          |FROM graft_catalog_read('$tmp/t', '$cat', $v2)
          |WHERE o_custkey BETWEEN 10 AND 60
          |  AND o_orderkey BETWEEN 1000 AND 3000
          |GROUP BY 1 ORDER BY 1""".stripMargin)
        val nFiles = res.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
                  if fs.location.rootPaths.exists(_.toString.contains("/t/")) =>
                fs.location.inputFiles.length.toLong
              case _ => 0L
            }
        }.sum
        require(nFiles > 0 && nFiles < 16,
          s"maintained table did not prune the box: $nFiles of 16 files")
        res
      } finally plans.ScanPruneRewrite.unregister("q143")
    }),

    // ---- STREAMING MERGE: a CDC upsert feed where each micro-batch is
    // a mixed changeset (updates, deletes, inserts over disjoint key
    // classes) applied as ONE merge-on-read commit — DV addresses for
    // matched rows, an append commit for upserts, the catalog pointer
    // flipped idempotently by batch id. Base files never rewrite
    // (REQUIREd); the final snapshot equals the changesets folded over
    // the seed, reconstructed in closed form by the oracle --------------
    "s45_stream_merge" -> ((s, dir) => {
      val tmp = gateScratch("s45")
      val od = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      od.repartitionByRange(8, col("o_orderkey")).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("o_orderkey"))
        .write.parquet(s"$tmp/m0")
      val cat = s"$tmp/catalog"
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/m0"))
      val baseFiles = s.read.parquet(s"$tmp/t").inputFiles.toSet
      // batch k: update keys %100==k (+1000·(k+1)), delete %100==10+k,
      // insert %100==20+k shifted by 100M·(k+1) — staged in mtime order
      val inDir = java.nio.file.Paths.get(tmp, "in")
      java.nio.file.Files.createDirectories(inDir)
      (0 until 4).foreach { k =>
        val changes =
          od.filter(col("o_orderkey") % 100 === k)
            .select(col("o_orderkey"), col("o_custkey"),
              (col("o_totalprice") + (k + 1) * 1000).as("o_totalprice"),
              lit(false).as("is_delete"))
          .unionAll(od.filter(col("o_orderkey") % 100 === (10 + k))
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"), lit(true).as("is_delete")))
          .unionAll(od.filter(col("o_orderkey") % 100 === (20 + k))
            .select((col("o_orderkey") + (k + 1) * 100000000L)
              .as("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              lit(false).as("is_delete")))
        val shardTmp = s"$tmp/wave$k"
        changes.coalesce(1).write.parquet(shardTmp)
        val part = new java.io.File(shardTmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = inDir.resolve(f"batch-$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + k * 60000L))
      }
      val inSchema = s.read.parquet(inDir.toString).schema
      withNarrowState(s) {
        val q = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            ops.Layout.mergeOnReadCommit(s, s"$tmp/t", cat, tmp,
              batch, "o_orderkey", "is_delete", Seq("o_orderkey"),
              txnId = Some(s"batch-$bid"))
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      require(baseFiles.subsetOf(
        s.read.parquet(s"$tmp/t").inputFiles.toSet),
        "streaming merge must never rewrite a base file")
      val vFinal = ops.Versions.listVersions(cat)(s).max
      require(vFinal == 5, s"expected 5 catalog versions, got $vFinal")
      val refs = ops.Catalog.resolve(s, cat, vFinal)
      ops.Layout.snapshotReadWithDeletes(s, s"$tmp/t",
          s.read.parquet(refs("manifest")), s.read.parquet(refs("dv")))
        .groupBy((col("o_orderkey") % 7).as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
        .orderBy("grp")
    }),

    // ---- STREAM × BATCH WRITER INTERLEAVE: s41-s43 commit via
    // commitIdempotent assuming they OWN the catalog; the realistic
    // deployment has a batch writer landing commits between
    // micro-batches. The stream here flips its manifest through
    // commitIdempotentRetry — txn-keyed (replays of a batch id stay
    // exactly-once) AND derived from the CURRENT world through the CAS
    // loop — while a genuinely concurrent batch thread lands 8
    // read-modify-write commits of its own. REQUIREd: dense 13-version
    // history, ZERO lost updates in either direction (final world
    // carries all 8 batch artifacts AND the full stream manifest), and
    // the stream's batch-prefix invariant restated against the
    // interleaved history (each successive manifest ref's file set
    // strictly contains its predecessor's) -----------------------------
    "s46_stream_batch_interleave" -> ((s, dir) => {
      val tmp = gateScratch("s46")
      val docs = t(s, dir, "documents").select("doc_id", "n_chars")
      val inDir = java.nio.file.Paths.get(tmp, "in")
      java.nio.file.Files.createDirectories(inDir)
      (0 until 4).foreach { k =>
        val shardTmp = s"$tmp/shard$k"
        docs.filter(pmod(col("doc_id"), lit(4)) === k)
          .coalesce(1).write.parquet(shardTmp)
        val part = new java.io.File(shardTmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = inDir.resolve(f"batch-$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + k * 60000L))
      }
      docs.limit(0).coalesce(1).write.parquet(s"$tmp/t")
      ops.Layout.statsManifest(s, s"$tmp/t", Seq("doc_id"))
        .write.parquet(s"$tmp/m/seed")
      val cat = s"$tmp/cat"
      ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/m/seed"))
      var manifest = s.read.parquet(s"$tmp/m/seed")
      // the concurrent batch writer: 8 read-modify-write commits
      // spread across the stream's micro-batch window
      val batchErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val batchW = new Thread(() => {
        try (1 to 8).foreach { i =>
          ops.Catalog.commitRetry(s, cat,
            base => base + (s"dim-$i" -> s"ref/dim-$i"))
          Thread.sleep(120)
        } catch { case e: Throwable => batchErr.set(e) }
      })
      val inSchema = s.read.parquet(inDir.toString).schema
      batchW.start()
      withNarrowState(s) {
        val q = s.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            batch.select("doc_id", "n_chars")
              .repartitionByRange(2, col("doc_id"))
              .write.mode("append").parquet(s"$tmp/t")
            ops.Layout.extendManifest(s, s"$tmp/t", manifest, Seq("doc_id"))
              .write.parquet(s"$tmp/m/v$bid")
            manifest = s.read.parquet(s"$tmp/m/v$bid")
            ops.Catalog.commitIdempotentRetry(s, cat, s"batch-$bid",
              base => base + ("manifest" -> s"$tmp/m/v$bid"))
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      batchW.join(120000)
      require(batchErr.get() == null,
        s"batch writer failed: ${batchErr.get()}")
      val vs = ops.Versions.listVersions(cat)(s)
      require(vs == (1 to 13), s"history not dense 1..13: ${vs.mkString(",")}")
      val finalRefs = ops.Catalog.resolveCurrent(s, cat)
      require((1 to 8).forall(i => finalRefs.contains(s"dim-$i")),
        "the stream's flips dropped a batch writer's artifact")
      require(finalRefs("manifest") == s"$tmp/m/v3",
        s"final manifest is ${finalRefs("manifest")}, not the last batch's")
      // batch-prefix invariant against the INTERLEAVED history: walk
      // versions in order; each time the manifest ref changes, the new
      // manifest's file set strictly contains the previous one's
      var prevRef = ""
      var prevFiles = Set.empty[String]
      vs.foreach { v =>
        val ref = ops.Catalog.resolve(s, cat, v)("manifest")
        if (ref != prevRef) {
          val files = s.read.parquet(ref).select("file").collect()
            .map(_.getString(0)).toSet
          require(prevFiles.subsetOf(files) &&
            (prevRef.isEmpty || files.size > prevFiles.size),
            s"v$v manifest is not a strict superset of its predecessor")
          prevRef = ref; prevFiles = files
        }
      }
      ops.Layout.snapshotRead(s, s"$tmp/t",
          s.read.parquet(finalRefs("manifest")))
        .groupBy(pmod(col("doc_id"), lit(4)).cast("long").as("grp"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("grp")
    }),

    // ---- catalog-aware GC: retention by REFERENCE, not age — vacuum
    // the catalog to its newest versions, then delete only artifact
    // dirs no retained version references; the surviving versions keep
    // reading exactly their batch-prefix worlds -------------------------
    "q121_catalog_vacuum" -> ((s, dir) => {
      val tmp = gateScratch("q121")
      val docs = t(s, dir, "documents").select("doc_id", "source")
      docs.limit(0).coalesce(1).write.parquet(s"$tmp/t")
      var m = ops.Layout.statsManifest(s, s"$tmp/t", Seq("doc_id"))
        .localCheckpoint(eager = true)
      val cat = s"$tmp/catalog"
      (0 until 4).foreach { k =>
        docs.filter(pmod(col("doc_id"), lit(4)) === k)
          .repartitionByRange(2, col("doc_id"))
          .write.mode("append").parquet(s"$tmp/t")
        ops.Layout.extendManifest(s, s"$tmp/t", m, Seq("doc_id"))
          .write.parquet(s"$tmp/m/v$k")
        m = s.read.parquet(s"$tmp/m/v$k")
        ops.Catalog.commit(s, cat, Map("manifest" -> s"$tmp/m/v$k"))
      }
      ops.Catalog.vacuumKeep(s, cat, keep = 2, Seq(s"$tmp/m"))
      def world(v: Int): DataFrame = {
        val refs = ops.Catalog.resolve(s, cat, v)
        ops.Layout.snapshotRead(s, s"$tmp/t",
            s.read.parquet(refs("manifest")))
          .groupBy("source").agg(count(lit(1)).as("n"))
          .select(lit(v).as("version"), col("source"), col("n"))
      }
      world(3).unionAll(world(4)).orderBy("version", "source")
    }),

    // ---- cross-artifact atomic commit: ONE catalog pointer over the
    // (stats manifest, token-bloom index) pair — a reader resolving
    // catalog v1 searches epoch-1 docs only, even though epoch 2 is
    // already in the directory: index and manifest can never skew ------
    "q116_catalog_commit" -> ((s, dir) => {
      val tmp = gateScratch("q116")
      val d = t(s, dir, "documents")
      d.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id"))
        .write.parquet(s"$tmp/t")
      val m1 = ops.Layout.statsManifest(s, s"$tmp/t", Seq("doc_id"))
        .localCheckpoint(eager = true)
      val i1 = ops.Layout.tokenBloomIndex(s, s"$tmp/t", "text")
        .localCheckpoint(eager = true)
      m1.write.parquet(s"$tmp/m1"); i1.write.parquet(s"$tmp/i1")
      val cat = s"$tmp/catalog"
      ops.Catalog.commit(s, cat,
        Map("manifest" -> s"$tmp/m1", "token_bloom" -> s"$tmp/i1"))
      d.filter(col("doc_id") % 2 === 1)
        .repartitionByRange(4, col("doc_id"))
        .write.mode("append").parquet(s"$tmp/t")
      val m2 = ops.Layout.extendManifest(s, s"$tmp/t", m1, Seq("doc_id"))
      val i2 = ops.Layout.extendTokenBloomIndex(s, s"$tmp/t", i1, "text")
      m2.write.parquet(s"$tmp/m2"); i2.write.parquet(s"$tmp/i2")
      ops.Catalog.commit(s, cat,
        Map("manifest" -> s"$tmp/m2", "token_bloom" -> s"$tmp/i2"))
      // readers resolve a catalog version ONCE and read both artifacts
      def world(v: Int): DataFrame = {
        val refs = ops.Catalog.resolve(s, cat, v)
        val manifest = s.read.parquet(refs("manifest"))
        val idx = s.read.parquet(refs("token_bloom"))
        val total = ops.Layout.snapshotRead(s, s"$tmp/t", manifest).count()
        ops.Layout.tokenBloomRead(s, s"$tmp/t", idx, "text", "dup")
          .select(lit(v).as("version"), col("doc_id"), col("source"),
            lit(total).as("table_rows"))
      }
      world(1).unionAll(world(2)).orderBy("version", "doc_id")
    }),

    // ---- Matryoshka dimension-truncation sweep: recall@5 of prefix-
    // dim cosine vs the full-dim truth — the store-fewer-dims quality
    // curve (e15 reranks from the same prefixes; this measures them) ----
    "e27_dim_sweep" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = t(s, dir, "embeddings")
      val v = emb.select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("v"))
      val q = v.filter(col("id") < 50)
        .select(col("id").as("qid"), col("v").as("qv"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      def topk(dims: Option[Int]) = v.crossJoin(broadcast(q))
        .filter(col("id") =!= col("qid"))
        .select(col("qid"), col("id").as("nid"),
          (dims match {
            case Some(d) => ops.Similarity.cosine(
              slice(col("v"), 1, d), slice(col("qv"), 1, d))
            case None => ops.Similarity.cosine(col("v"), col("qv"))
          }).as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("qid").as("id"), col("nid"))
      val exact = topk(None).ckpt
      Seq(8, 16, 32).map { d =>
        topk(Some(d))
          .join(exact, Seq("id", "nid"))
          .agg(count(lit(1)).as("n_match"))
          .select(lit(d).as("dims"), col("n_match"), lit(50L).as("n_queries"))
      }.reduce(_ unionAll _).orderBy("dims")
    }),

    // ---- grid-density clustering over a 2-D projection: dense cells
    // merge via a PLANNER-scale CC (no point-pair join anywhere);
    // sparse-cell points are noise — DBSCAN's grid-family cousin -------
    "e26_grid_density" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      ops.Similarity.gridDensityClusters(emb, "vec_id",
          element_at(col("embedding"), 1), element_at(col("embedding"), 2),
          scale = 1000.0, cellWidth = 100.0, minPts = 20L)
        .orderBy("id")
    }),

    // ---- streaming near-dup admission at the crawl front door: micro-
    // batches filtered against the STATIC corpus LSH index (d43's
    // scenario as a stream); candidates pre-collapsed so admission is
    // batch-boundary-invariant — the oracle is the whole-set filter ----
    "s25_stream_neardup_admit" -> ((s, dir) => {
      val tmp = gateScratch("s25")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val near = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zzz extra suffix")).as("text"))
      val copies = docs.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
      val freshDocs = docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 4000000).as("doc_id"),
          reverse(col("text")).as("text"))
      // pre-collapse exact dups ONCE so batch boundaries can't split an
      // exact-dup group (the documented composition contract: admission
      // against a static index is then batch-invariant)
      val cand = ops.Dedup.collapseExactText(
        near.unionAll(copies).unionAll(freshDocs), "doc_id", "text")
      cand.withColumn("shard", pmod(col("doc_id"), lit(4)))
        .repartition(4, col("shard"))
        .write.parquet(s"$tmp/in") // 4 files → 4 micro-batches
      // freeze the index tables: four micro-batches probe them — the
      // checkpoint stops each batch re-deriving the banding pipeline
      val idx0 = ops.Dedup.nearDupIndex(docs, "doc_id", "text",
        k = 12, bands = 6, shingleSize = 3)
      val idx = idx0.copy(
        fingerprints = idx0.fingerprints.ckpt,
        bands = idx0.bands.ckpt,
        hashes = idx0.hashes.ckpt)
      var admitted = docs.limit(0)
      val inSchema = s.read.parquet(s"$tmp/in").schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            admitted = admitted.unionAll(
                ops.Dedup.nearDupFilter(idx, batch.select("doc_id", "text"),
                  "doc_id", "text", tau = 0.5))
              .localCheckpoint(eager = true) // sever the micro-batch source
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      admitted.orderBy("doc_id")
    }),

    // ---- streaming kNN ENRICHMENT against a cold-loaded persisted IVF
    // index: the online-retrieval shape — queries arrive as micro-
    // batches (their own id space, reversed-embedding vectors so the
    // answer is non-trivial) and each batch probes the FROZEN index
    // loaded from disk (e28's artifact) via knnProbe. Per-query results
    // are independent, so streaming enrichment is batch-boundary-
    // invariant by construction; oracle = one whole-set probe replay --
    "s38_stream_knn_enrich" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val tmp = gateScratch("s38")
      val emb = t(s, dir, "embeddings")
      val path = s"$tmp/index"
      ops.Similarity.IvfIndex.save(
        ops.Similarity.ivfIndexSeeded(emb, "vec_id", "embedding", nlist = 8),
        path)
      val loaded = ops.Similarity.IvfIndex.load(path)
      val queries = emb.filter(col("vec_id") % 5 === 2)
        .select((col("vec_id") + 1000000).as("qid"),
          reverse(col("embedding").cast("array<double>")).as("qv"))
      queries.withColumn("shard", pmod(col("qid"), lit(4)))
        .repartition(4, col("shard"))
        .write.parquet(s"$tmp/in") // 4 files → 4 micro-batches
      var enriched = loaded.knnProbe(queries.limit(0), "qid", "qv",
        k = 5, nprobe = 2)
      val inSchema = s.read.parquet(s"$tmp/in").schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            enriched = enriched.unionAll(
                loaded.knnProbe(batch.select("qid", "qv"), "qid", "qv",
                  k = 5, nprobe = 2))
              .localCheckpoint(eager = true) // sever the micro-batch source
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      enriched.orderBy("id", "rank")
    }),

    // ---- streaming near-dup admission with a GROWING index — the real
    // crawl front door: batch k is filtered against the corpus index
    // EXTENDED with batches 0..k−1's survivors (s25 probes a static
    // index; here admission is exactly-once across batches for NEAR
    // dups too, not just exact fingerprints). Each batch carries fresh
    // rows, near-dups of corpus content, and near-dups + exact copies
    // of the PREVIOUS batch's fresh rows — the latter two classes
    // bounce only because the index grew. Mtime-ordered staging pins
    // the fold order; oracle = four unrolled admission rounds, round
    // k's corpus = documents ∪ rounds 0..k−1's admissions (extend ≡
    // rebuild, composed sequentially) ----------------------------------
    "s39_stream_growing_admit" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val tmp = gateScratch("s39")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val B = 10000000L
      // batch of a doc = (doc_id div 10) % 4 — %10-filtered classes are
      // odd-id-only, so a plain doc_id % 4 would leave half the batches
      // without fixture rows
      val batchOf = pmod((col("doc_id") / 10).cast("long"), lit(4))
      def slice(k: Int): DataFrame = {
        val fresh = docs
          .filter(col("doc_id") % 10 === 5 && batchOf === k)
          .select((col("doc_id") + lit(B * k + 4000000L)).as("doc_id"),
            reverse(col("text")).as("text"))
        val nearC = docs
          .filter(col("doc_id") % 10 === 3 && batchOf === k)
          .select((col("doc_id") + lit(B * k + 1000000L)).as("doc_id"),
            concat(col("text"), lit(" zzz extra suffix")).as("text"))
        if (k == 0) fresh.unionAll(nearC)
        else {
          val prevFresh = docs.filter(col("doc_id") % 10 === 5 &&
            batchOf === (k - 1))
          fresh.unionAll(nearC)
            .unionAll(prevFresh.select(
              (col("doc_id") + lit(B * k + 2000000L)).as("doc_id"),
              concat(reverse(col("text")), lit(" zzz extra suffix")).as("text")))
            .unionAll(prevFresh.select(
              (col("doc_id") + lit(B * k + 3000000L)).as("doc_id"),
              reverse(col("text")).as("text")))
        }
      }
      // stage batch k as ONE file with strictly increasing mtimes so
      // FileStreamSource (mtime order) delivers the fold in k order
      val inDir = java.nio.file.Paths.get(tmp, "in")
      java.nio.file.Files.createDirectories(inDir)
      (0 until 4).foreach { k =>
        val shardTmp = s"$tmp/shard$k"
        slice(k).coalesce(1).write.parquet(shardTmp)
        val part = new java.io.File(shardTmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = inDir.resolve(f"batch-$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + k * 60000L))
      }
      val idx0 = ops.Dedup.nearDupIndex(docs, "doc_id", "text",
        k = 12, bands = 6, shingleSize = 3)
      var idx = idx0.copy(fingerprints = idx0.fingerprints.ckpt,
        bands = idx0.bands.ckpt, hashes = idx0.hashes.ckpt)
      var admitted = docs.limit(0)
      val inSchema = s.read.parquet(inDir.toString).schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val adm = ops.Dedup.nearDupFilter(idx,
                batch.select("doc_id", "text"), "doc_id", "text", tau = 0.5)
              .localCheckpoint(eager = true) // feeds BOTH union and extend
            val prevAdmitted = admitted
            admitted = admitted.unionAll(adm)
              .localCheckpoint(eager = true) // sever the micro-batch source
            val grown = ops.Dedup.NearDupIndex.extend(idx, adm,
              "doc_id", "text")
            // pin all three tables per batch: the next batch probes them,
            // and their lineage must not reach this batch's source
            val prev = idx
            idx = grown.copy(
              fingerprints = grown.fingerprints.localCheckpoint(eager = true),
              bands = grown.bands.localCheckpoint(eager = true),
              hashes = grown.hashes.localCheckpoint(eager = true))
            // the new pins are materialized (eager), so generation k-1's
            // image and this batch's intermediates are superseded —
            // release them NOW: without this, two full index images stay
            // resident until the ContextCleaner catches up (the round-17
            // 40 GiB-driver soak note)
            ops.Ckpt.release(prev.fingerprints)
            ops.Ckpt.release(prev.bands)
            ops.Ckpt.release(prev.hashes)
            ops.Ckpt.release(prevAdmitted)
            ops.Ckpt.release(adm)
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      admitted.orderBy("doc_id")
    }),

    // ---- streaming VECTOR admission at the embedding front door: the
    // s25 scenario for embeddings — micro-batches of candidate vectors
    // filtered against the STATIC corpus hyperplane-LSH buckets
    // (e6's machinery as an admission index); candidates pre-collapsed
    // to bit-identical-vector reps so admission is batch-boundary-
    // invariant — the oracle is the whole-set filter ------------------
    "s29_stream_vector_admit" -> ((s, dir) => {
      val tmp = gateScratch("s29")
      val emb = t(s, dir, "embeddings")
      val embD = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      // near: tiny uniform perturbation (cos ≈ 1 → rejected when the
      // bucket still collides); copies: exact (always rejected); fresh:
      // reversed direction (mostly admitted) — all SQL-replicable
      val near = embD.filter(col("vec_id") % 10 === 3)
        .select((col("vec_id") + 2000000).as("vec_id"),
          transform(col("v"), x => x + lit(0.0001)).as("v"))
      val copies = embD.filter(col("vec_id") % 10 === 7)
        .select((col("vec_id") + 3000000).as("vec_id"), col("v"))
      val fresh = embD.filter(col("vec_id") % 10 === 5)
        .select((col("vec_id") + 4000000).as("vec_id"),
          reverse(col("v")).as("v"))
      val cand = ops.Dedup.collapseVectors(
        near.unionAll(copies).unionAll(fresh), "vec_id", "v")
      cand.select(col("id").as("vec_id"), col("v"))
        .withColumn("shard", pmod(col("vec_id"), lit(4)))
        .repartition(4, col("shard"))
        .write.parquet(s"$tmp/in") // 4 files → 4 micro-batches
      // the frozen admission index: one bucket+norm pass, probed by
      // every micro-batch
      val idx = ops.Dedup.vectorNearDupIndex(emb, "vec_id", "embedding",
          dim = 64, bits = 6, maxBucket = 1000)
        .ckpt
      var admitted = cand.select(col("id").as("vec_id")).limit(0)
      val inSchema = s.read.parquet(s"$tmp/in").schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            admitted = admitted.unionAll(
                ops.Dedup.vectorNearDupFilter(idx,
                    batch.select("vec_id", "v"), "vec_id", "v",
                    dim = 64, bits = 6, tau = 0.8)
                  .select("vec_id"))
              .localCheckpoint(eager = true) // sever the micro-batch source
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      admitted.orderBy("vec_id")
    }),

    // ---- streaming VECTOR admission with a GROWING index — s39's
    // embedding sibling (s29 probes a static index): batch k filters
    // against the hyperplane index EXTENDED with batches 0..k−1's
    // survivors, so exact copies and near-perturbations of the PREVIOUS
    // batch's fresh vectors bounce only because the index grew. Oracle
    // = four unrolled admission rounds over accumulating corpora -------
    "s40_stream_vector_growing" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val tmp = gateScratch("s40")
      val emb = t(s, dir, "embeddings")
      val embD = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val B = 10000000L
      val batchOf = pmod((col("vec_id") / 10).cast("long"), lit(4))
      def slice(k: Int): DataFrame = {
        val fresh = embD.filter(col("vec_id") % 10 === 5 && batchOf === k)
          .select((col("vec_id") + lit(B * k + 4000000L)).as("vec_id"),
            reverse(col("v")).as("v"))
        val nearC = embD.filter(col("vec_id") % 10 === 3 && batchOf === k)
          .select((col("vec_id") + lit(B * k + 1000000L)).as("vec_id"),
            transform(col("v"), x => x + lit(0.0001)).as("v"))
        if (k == 0) fresh.unionAll(nearC)
        else {
          val prevFresh = embD.filter(col("vec_id") % 10 === 5 &&
            batchOf === (k - 1))
          fresh.unionAll(nearC)
            .unionAll(prevFresh.select(
              (col("vec_id") + lit(B * k + 2000000L)).as("vec_id"),
              transform(reverse(col("v")), x => x + lit(0.0001)).as("v")))
            .unionAll(prevFresh.select(
              (col("vec_id") + lit(B * k + 3000000L)).as("vec_id"),
              reverse(col("v")).as("v")))
        }
      }
      val inDir = java.nio.file.Paths.get(tmp, "in")
      java.nio.file.Files.createDirectories(inDir)
      (0 until 4).foreach { k =>
        val shardTmp = s"$tmp/shard$k"
        slice(k).coalesce(1).write.parquet(shardTmp)
        val part = new java.io.File(shardTmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = inDir.resolve(f"batch-$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + k * 60000L))
      }
      var idx = ops.Dedup.vectorNearDupIndex(emb, "vec_id", "embedding",
          dim = 64, bits = 6).ckpt
      var admitted = embD.select("vec_id").limit(0)
      val inSchema = s.read.parquet(inDir.toString).schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val adm = ops.Dedup.vectorNearDupFilter(idx,
                batch.select("vec_id", "v"), "vec_id", "v",
                dim = 64, bits = 6, tau = 0.8)
              .localCheckpoint(eager = true) // feeds union AND extend
            val prevAdmitted = admitted
            admitted = admitted.unionAll(adm.select("vec_id"))
              .localCheckpoint(eager = true)
            // pin the grown table per batch: the next batch probes it,
            // and its lineage must not reach this batch's source
            val prev = idx
            idx = ops.Dedup.VectorNearDupIndex.extend(idx, adm,
                "vec_id", "v", dim = 64, bits = 6)
              .localCheckpoint(eager = true)
            // new pins materialized -> generation k-1 and this batch's
            // intermediates are superseded; release their blocks now so
            // at most one live image is ever resident (s39's contract)
            ops.Ckpt.release(prev)
            ops.Ckpt.release(prevAdmitted)
            ops.Ckpt.release(adm)
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      admitted.orderBy("vec_id")
    }),

    // ---- streaming token-budget admission: the d55 recipe as an
    // id-ordered micro-batch fold — running per-source token totals are
    // the only state (O(#sources) rows), rejected docs still advance
    // the line, and the fold over ordered batches equals the whole-set
    // greedy prefix (oracle = d55's verbatim) --------------------------
    "s30_stream_budget_admit" -> ((s, dir) => {
      import s.implicits._
      val tmp = gateScratch("s30")
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val budgets = (0 until 10).map(k => (s"src$k", 120L + 137L * k))
        .toDF("source", "budget").localCheckpoint(eager = true)
      // 4 contiguous id-range shards with strictly increasing mtimes:
      // FileStreamSource orders files by modification time, so batches
      // arrive in id order — the fold's documented ordering contract
      // (a log-ordered ingest)
      val inDirPath = writeMtimeOrderedShards(docs, "doc_id", tmp)
      var seen = Seq.empty[(String, Long)].toDF("source", "seen_tokens")
        .localCheckpoint(eager = true)
      var admitted = docs.limit(0)
        .select(col("doc_id"), col("source"), lit(0L).as("n_tokens"))
      val inSchema = s.read.parquet(inDirPath).schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDirPath)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val (adm, ns) = ops.CorpusOps.budgetedAdmitBatch(seen,
              batch, "doc_id", "text", "source", budgets)
            admitted = admitted.unionAll(adm)
              .localCheckpoint(eager = true) // sever the micro-batch source
            seen = ns.localCheckpoint(eager = true)
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      admitted.orderBy("doc_id")
    }),

    // ---- streaming shard assignment: d57's write-side fold — each
    // micro-batch's rows get their deterministic h64 shard and a dense
    // per-shard append position offset by O(nShards) state; id-ordered
    // arrival (mtime-ordered file shards) makes the total order
    // (batch, h64, id), which the oracle replays ------------------------
    "s33_stream_shard" -> ((s, dir) => {
      import s.implicits._
      val tmp = gateScratch("s33")
      val docs = t(s, dir, "documents").select("doc_id", "lang")
      val inDirPath = writeMtimeOrderedShards(docs, "doc_id", tmp)
      var seen = Seq.empty[(Int, Long)].toDF("shard", "n_seen")
        .localCheckpoint(eager = true)
      var assigned = docs.limit(0)
        .select(col("doc_id"), col("lang"),
          lit(0).as("shard"), lit(0L).as("seq"))
      val inSchema = s.read.parquet(inDirPath).schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDirPath)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val (asg, ns) = ops.CorpusOps.shardAssignBatch(seen,
              batch, "doc_id", nShards = 8)
            assigned = assigned.unionAll(
                asg.select("doc_id", "lang", "shard", "seq"))
              .localCheckpoint(eager = true) // sever the micro-batch source
            seen = ns.localCheckpoint(eager = true)
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      assigned.orderBy("shard", "seq")
    }),

    // ---- commit LINEAGE for free: self-contained commit dirs make row
    // provenance a pure _metadata projection — no stored lineage column,
    // no extra write cost; the gate folds each commit's rows to a
    // layout-independent slice signature (commit ids are run-random, so
    // the signature, not the id, is the pinned output) ------------------
    "q109_commit_lineage" -> ((s, dir) => {
      val tmp = gateScratch("q109")
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val ms = (0 until 3).map { i =>
        ops.Layout.commitAppend(s, li.filter(col("l_orderkey") % 3 === i),
            s"$tmp/t", Seq("l_orderkey"))
          .localCheckpoint(eager = true)
      }
      val all = ms.reduce(ops.Layout.mergeBranch)
      ops.Layout.snapshotRead(s, s"$tmp/t", all)
        .withColumn("commit_id", regexp_extract(
          col("_metadata.file_path"), "(commit-[0-9a-f]+)", 1))
        .groupBy("commit_id")
        .agg(count(lit(1)).as("n_rows"),
          min("l_orderkey").as("min_key"),
          max("l_orderkey").as("max_key"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .drop("commit_id")
        .orderBy("min_key")
    }),

    // ---- streaming pack-index assignment: m18's fold — each arriving
    // payload gets its h64 shard and the byte offset continuing from
    // O(nShards) per-shard cursors; id-ordered arrival makes the layout
    // (batch, h64, id), which the oracle replays ------------------------
    "s35_stream_pack" -> ((s, dir) => {
      import s.implicits._
      val tmp = gateScratch("s35")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val inDirPath = writeMtimeOrderedShards(docs, "doc_id", tmp)
      var seen = Seq.empty[(Int, Long)].toDF("shard", "n_bytes")
        .localCheckpoint(eager = true)
      var assigned = docs.limit(0)
        .select(col("doc_id"), lit(0).as("shard"),
          lit(0L).as("length"), lit(0L).as("offset"))
      val inSchema = s.read.parquet(inDirPath).schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDirPath)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val (asg, ns) = ops.Multimodal.packAssignBatch(seen,
              batch.select(col("doc_id"),
                col("text").cast("binary").as("payload")),
              "doc_id", "payload", nShards = 4)
            assigned = assigned.unionAll(
                asg.select("doc_id", "shard", "length", "offset"))
              .localCheckpoint(eager = true) // sever the micro-batch source
            seen = ns.localCheckpoint(eager = true)
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      assigned.orderBy("shard", "offset")
    }),

    // ---- WRITE-AUDIT-PUBLISH over the branch substrate (the Iceberg
    // WAP pattern, public docs): each streamed micro-batch commits to a
    // STAGING branch manifest; nothing is visible on main until the
    // audit (row-count reconciliation against the stream's own ledger)
    // passes, then publish = one fast-forward mergeBranch. A failed
    // audit would leave main untouched — immutable commit dirs make
    // abandonment free -------------------------------------------------
    "s34_stream_wap" -> ((s, dir) => {
      import s.implicits._
      val tmp = gateScratch("s34")
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      // main starts with the base commit (doc_id % 5 == 0)
      val main0 = ops.Layout.commitAppend(s,
          docs.filter(col("doc_id") % 5 === 0), s"$tmp/t", Seq("doc_id"))
        .localCheckpoint(eager = true)
      // the stream delivers the REST as 4 mtime-ordered file shards
      val inDirPath = writeMtimeOrderedShards(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", tmp)
      var staged: Option[DataFrame] = None
      var ledger = 0L // the stream's own row count, audited against
      val inSchema = s.read.parquet(inDirPath).schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDirPath)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val pinned = batch.localCheckpoint(eager = true) // one pass
            ledger += pinned.count()
            val c = ops.Layout.commitAppend(s, pinned, s"$tmp/t",
                Seq("doc_id"))
              .localCheckpoint(eager = true)
            staged = Some(staged.fold(c)(_ unionAll c))
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val staging = staged.getOrElse(main0.limit(0))
      // AUDIT: staged rows must reconcile with the stream's ledger
      val stagedRows = ops.Layout.snapshotRead(s, s"$tmp/t", staging).count()
      require(stagedRows == ledger,
        s"WAP audit failed: staged $stagedRows != ledger $ledger — not publishing")
      val published = ops.Layout.mergeBranch(main0, staging)
      ops.Layout.snapshotRead(s, s"$tmp/t", published)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"))
        .orderBy("lang")
    }),

    // ---- streaming contamination guard at the ingest front door: the
    // d22 audit as an admission filter — candidates whose winnowed-
    // fingerprint overlap with the FROZEN benchmark set reaches 0.5 are
    // rejected before they can poison the training mix; static-index
    // probing makes admission batch-boundary-invariant ------------------
    "s31_stream_contamination_admit" -> ((s, dir) => {
      val tmp = gateScratch("s31")
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val bench = docs.filter(col("doc_id") % 2 === 1)
      // verbatim benchmark copies (contamination 1.0 → rejected),
      // lightly-padded copies (overlap-heavy → rejected), reversed
      // fresh text (≈0 overlap → admitted)
      val copied = bench.filter(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      val edited = bench.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(col("text"), lit(" zzz tail pad")).as("text"))
      val freshDocs = docs.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + 4000000).as("doc_id"),
          reverse(col("text")).as("text"))
      copied.unionAll(edited).unionAll(freshDocs)
        .withColumn("shard", pmod(col("doc_id"), lit(4)))
        .repartition(4, col("shard"))
        .write.parquet(s"$tmp/in") // 4 files → 4 micro-batches
      val idx = ops.CorpusOps.benchmarkFingerprints(bench, "doc_id", "text")
        .ckpt // probed by every micro-batch
      var admitted = ops.CorpusOps.contaminationFilter(idx,
        docs.limit(0), "doc_id", "text")
      val inSchema = s.read.parquet(s"$tmp/in").schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            admitted = admitted.unionAll(
                ops.CorpusOps.contaminationFilter(idx,
                  batch.select("doc_id", "text"), "doc_id", "text"))
              .localCheckpoint(eager = true) // sever the micro-batch source
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      admitted.select("doc_id", "n_fps", "n_hits", "contamination")
        .orderBy("doc_id")
    }),

    // ---- the COMPLETE ingest front door as one stream: exact/near-dup
    // admission vs the frozen corpus LSH index (s25), then benchmark-
    // contamination rejection vs the frozen fingerprint set (s31), then
    // token-budget admission with running per-source state (s30) — the
    // three filters composed per micro-batch; every index is static so
    // the fold equals the whole-set three-stage filter (one oracle) ----
    "s32_front_door_pipeline" -> ((s, dir) => {
      import s.implicits._
      val tmp = gateScratch("s32")
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val evens = docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text")
      val odds = docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text")
      // A: verbatim corpus copies (near-dup stage rejects); B: benchmark
      // copies (pass near-dup vs evens, contamination rejects); C:
      // reversed fresh text (reaches the budget stage)
      val candA = docs.filter(col("doc_id") % 10 === 2)
        .select((col("doc_id") + 2000000).as("doc_id"), col("source"),
          col("text"))
      val candB = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 3000000).as("doc_id"), col("source"),
          col("text"))
      val candC = docs.filter(col("doc_id") % 10 === 6)
        .select((col("doc_id") + 4000000).as("doc_id"), col("source"),
          reverse(col("text")).as("text"))
      val cand0 = candA.unionAll(candB).unionAll(candC)
      // pre-collapse exact-dup texts ONCE (min-id rep keeps its source
      // row via semi-join) so batch boundaries can't split a group
      val candReps = ops.Dedup.collapseExactText(
        cand0.select("doc_id", "text"), "doc_id", "text").select("doc_id")
      val cand = cand0.join(candReps, Seq("doc_id"), "left_semi")
        .localCheckpoint(eager = true)
      // id-ordered shards with forced mtimes (the s30 ordering contract;
      // the budget stage is the only order-sensitive one)
      val inDir = java.nio.file.Paths.get(tmp, "in")
      java.nio.file.Files.createDirectories(inDir)
      val bounds = Seq(
        (col("doc_id") < 3000000L),
        (col("doc_id") >= 3000000L && col("doc_id") < 4000000L),
        (col("doc_id") >= 4000000L && col("doc_id") < 4000250L),
        (col("doc_id") >= 4000250L))
      bounds.zipWithIndex.foreach { case (p, i) =>
        val shardTmp = s"$tmp/shard$i"
        cand.filter(p).coalesce(1).write.parquet(shardTmp)
        val part = new java.io.File(shardTmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = inDir.resolve(f"shard-$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + i * 60000L))
      }
      // the three FROZEN indexes
      val nd0 = ops.Dedup.nearDupIndex(evens, "doc_id", "text",
        k = 12, bands = 6, shingleSize = 3)
      val ndIdx = nd0.copy(
        fingerprints = nd0.fingerprints.ckpt,
        bands = nd0.bands.ckpt,
        hashes = nd0.hashes.ckpt)
      val ctIdx = ops.CorpusOps.benchmarkFingerprints(odds, "doc_id", "text")
        .ckpt
      val budgets = (0 until 20).map(k => (s"src$k", 60L + 29L * k))
        .toDF("source", "budget").localCheckpoint(eager = true)
      var seen = Seq.empty[(String, Long)].toDF("source", "seen_tokens")
        .localCheckpoint(eager = true)
      var admitted = cand.limit(0)
        .select(col("doc_id"), col("source"), lit(0L).as("n_tokens"))
      val inSchema = s.read.parquet(inDir.toString).schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val nd = ops.Dedup.nearDupFilter(ndIdx,
                batch.select("doc_id", "text"), "doc_id", "text", tau = 0.5)
              .select("doc_id")
            val s1 = batch.join(nd, Seq("doc_id"), "left_semi")
            val ct = ops.CorpusOps.contaminationFilter(ctIdx,
                s1.select("doc_id", "text"), "doc_id", "text")
              .select("doc_id")
            val s2 = s1.join(ct, Seq("doc_id"), "left_semi")
            val (adm, ns) = ops.CorpusOps.budgetedAdmitBatch(seen, s2,
              "doc_id", "text", "source", budgets)
            admitted = admitted.unionAll(adm)
              .localCheckpoint(eager = true) // sever the micro-batch source
            seen = ns.localCheckpoint(eager = true)
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      admitted.orderBy("doc_id")
    }),

    // ---- CAPSTONE: the COMPLETE ingest→training-shards pipeline as ONE
    // stream (r13 verdict #1). Per micro-batch: front-door admission
    // (s32's three filters — frozen LSH near-dup index, frozen benchmark
    // fingerprints, running token budgets) → write-audit-publish commit
    // of the admitted PAYLOADS to a staging branch (s34's commitAppend)
    // → deterministic shard assignment (s33's fold) AND pack-index fold
    // (s35's) over the same admitted rows. After the stream: audit the
    // staged branch against the pipeline's own ledger, publish with one
    // fast-forward mergeBranch, and answer "which ingest batch produced
    // this training row" from _metadata lineage alone (q109). ONE output
    // hash-pins all three artifacts against the whole-set batch oracle:
    // the shard table, the pack index, and the published main branch's
    // per-commit slice signatures (commit ids are run-random, so the
    // signature, not the id, is pinned) ---------------------------------
    "s36_ingest_to_shards" -> ((s, dir) => {
      import s.implicits._
      val tmp = gateScratch("s36")
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      val evens = docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text")
      val odds = docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text")
      // main = the frozen reference corpus, committed once up front
      val main0 = ops.Layout.commitAppend(s, evens, s"$tmp/t", Seq("doc_id"))
        .localCheckpoint(eager = true)
      // candidate feed — s32's construction: A rejected by near-dup,
      // B by contamination, C reaches the budget stage
      val candA = docs.filter(col("doc_id") % 10 === 2)
        .select((col("doc_id") + 2000000).as("doc_id"), col("source"),
          col("text"))
      val candB = docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 3000000).as("doc_id"), col("source"),
          col("text"))
      val candC = docs.filter(col("doc_id") % 10 === 6)
        .select((col("doc_id") + 4000000).as("doc_id"), col("source"),
          reverse(col("text")).as("text"))
      val cand0 = candA.unionAll(candB).unionAll(candC)
      val candReps = ops.Dedup.collapseExactText(
        cand0.select("doc_id", "text"), "doc_id", "text").select("doc_id")
      val cand = cand0.join(candReps, Seq("doc_id"), "left_semi")
        .localCheckpoint(eager = true)
      // id-ordered shards with forced mtimes (s30/s32 ordering contract)
      val inDir = java.nio.file.Paths.get(tmp, "in")
      java.nio.file.Files.createDirectories(inDir)
      val bounds = Seq(
        (col("doc_id") < 3000000L),
        (col("doc_id") >= 3000000L && col("doc_id") < 4000000L),
        (col("doc_id") >= 4000000L && col("doc_id") < 4000250L),
        (col("doc_id") >= 4000250L))
      bounds.zipWithIndex.foreach { case (p, i) =>
        val shardTmp = s"$tmp/shard$i"
        cand.filter(p).coalesce(1).write.parquet(shardTmp)
        val part = new java.io.File(shardTmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = inDir.resolve(f"shard-$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + i * 60000L))
      }
      // the three FROZEN admission indexes
      val nd0 = ops.Dedup.nearDupIndex(evens, "doc_id", "text",
        k = 12, bands = 6, shingleSize = 3)
      val ndIdx = nd0.copy(
        fingerprints = nd0.fingerprints.ckpt,
        bands = nd0.bands.ckpt,
        hashes = nd0.hashes.ckpt)
      val ctIdx = ops.CorpusOps.benchmarkFingerprints(odds, "doc_id", "text")
        .ckpt
      val budgets = (0 until 20).map(k => (s"src$k", 60L + 29L * k))
        .toDF("source", "budget").localCheckpoint(eager = true)
      // running state: token budgets, shard cursors, pack byte cursors,
      // the staged branch manifest, and the pipeline's own row ledger
      var seen = Seq.empty[(String, Long)].toDF("source", "seen_tokens")
        .localCheckpoint(eager = true)
      var seenShard = Seq.empty[(Int, Long)].toDF("shard", "n_seen")
        .localCheckpoint(eager = true)
      var seenPack = Seq.empty[(Int, Long)].toDF("shard", "n_bytes")
        .localCheckpoint(eager = true)
      var shardTab = cand.limit(0).select(col("doc_id"),
        lit(0).as("shard"), lit(0L).as("seq"), lit(0L).as("n_tokens"))
      var packTab = cand.limit(0).select(col("doc_id"),
        lit(0).as("shard"), lit(0L).as("offset"), lit(0L).as("length"))
      var staged: Option[DataFrame] = None
      var ledger = 0L
      val inSchema = s.read.parquet(inDir.toString).schema
      withNarrowState(s) {
        val q = s.readStream
          .schema(inSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir.toString)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // 1. front door (three filters, s32)
            val nd = ops.Dedup.nearDupFilter(ndIdx,
                batch.select("doc_id", "text"), "doc_id", "text", tau = 0.5)
              .select("doc_id")
            val s1 = batch.join(nd, Seq("doc_id"), "left_semi")
            val ct = ops.CorpusOps.contaminationFilter(ctIdx,
                s1.select("doc_id", "text"), "doc_id", "text")
              .select("doc_id")
            val s2 = s1.join(ct, Seq("doc_id"), "left_semi")
            val (admRaw, ns) = ops.CorpusOps.budgetedAdmitBatch(seen, s2,
              "doc_id", "text", "source", budgets)
            seen = ns.localCheckpoint(eager = true)
            // the admitted rows with their payloads, pinned once —
            // the commit write, the shard fold and the pack fold all
            // read this one batch-scale table
            val adm = admRaw
              .join(batch.select("doc_id", "text"), Seq("doc_id"))
              .localCheckpoint(eager = true)
            val n = adm.count()
            ledger += n
            if (n > 0) { // an all-rejected batch stages no commit
              // 2. WAP: stage the admitted payloads as one commit
              val c = ops.Layout.commitAppend(s,
                  adm.select("doc_id", "text"), s"$tmp/t", Seq("doc_id"))
                .localCheckpoint(eager = true)
              staged = Some(staged.fold(c)(_ unionAll c))
              // 3. shard-table fold (s33)
              val (asg, nss) = ops.CorpusOps.shardAssignBatch(seenShard,
                adm.select("doc_id", "n_tokens"), "doc_id", nShards = 8)
              shardTab = foldBound(s, shardTab.unionAll(
                  asg.select(col("doc_id"), col("shard"), col("seq"),
                    col("n_tokens"))))
                .localCheckpoint(eager = true)
              seenShard = nss.localCheckpoint(eager = true)
              // 4. pack-index fold (s35)
              val (pasg, nsp) = ops.Multimodal.packAssignBatch(seenPack,
                adm.select(col("doc_id"),
                  col("text").cast("binary").as("payload")),
                "doc_id", "payload", nShards = 4)
              packTab = foldBound(s, packTab.unionAll(
                  pasg.select(col("doc_id"), col("shard"), col("offset"),
                    col("length"))))
                .localCheckpoint(eager = true)
              seenPack = nsp.localCheckpoint(eager = true)
            }
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // AUDIT: the staged branch must reconcile with the ledger before
      // anything becomes visible on main
      val staging = staged.getOrElse(main0.limit(0))
      val stagedRows = ops.Layout.snapshotRead(s, s"$tmp/t", staging).count()
      require(stagedRows == ledger,
        s"ingest audit failed: staged $stagedRows != ledger $ledger — not publishing")
      val published = ops.Layout.mergeBranch(main0, staging)
      // lineage: per-commit slice signature of the published main
      val commits = ops.Layout.lineageRead(s, s"$tmp/t", published)
        .groupBy("commit_id")
        .agg(count(lit(1)).as("v1"), min("doc_id").as("doc_id"),
          max("doc_id").as("v2"),
          sum(length(col("text")).cast("long")).as("v3"))
      shardTab.select(lit("shard").as("part"), col("doc_id"),
          col("shard").cast("long").as("v1"), col("seq").as("v2"),
          col("n_tokens").as("v3"))
        .unionAll(packTab.select(lit("pack").as("part"), col("doc_id"),
          col("shard").cast("long").as("v1"), col("offset").as("v2"),
          col("length").as("v3")))
        .unionAll(commits.select(lit("commit").as("part"), col("doc_id"),
          col("v1"), col("v2"), col("v3")))
        .orderBy("part", "doc_id")
    }),

    // ---- MULTIMODAL INGEST CAPSTONE (the media sibling of s36): loose
    // binary files stream in → triage quarantine (m15) → exact payload
    // fingerprint with a GROWING seen-set (exactly-once) → Hamming
    // admission against the FROZEN corpus dHash index (hammingFilter64)
    // → decode-to-gray-raster normalize → blob-pack fold (s35) → WAP
    // commit + lineage. Payload bytes stay record-local end to end:
    // triage/hash/raster are partition-side decodes, only ids, 8-byte
    // hashes and 32-char fingerprints ever shuffle. The synthetic pixel
    // formula makes dhash, raster lengths and pack offsets closed-form,
    // so the whole pipeline replays in DuckDB.
    // Fixture (ids < 500 at every sf — flat gate cost; classes by id
    // arithmetic): corpus %6==0 (frozen index + base commit); incoming
    // +2M exact dups (%12==0, fp-rejected), +3M near-dups (%12==6,
    // gen+768192 gray-shift twins, dHash-rejected), +4M fresh (%12==3,
    // admitted), +4.5M same-gen twins (%24==3, exactly-once-rejected),
    // +5M zeroed payloads (%12==9, quarantined). Files carry unique
    // rank-ordered mtimes, so 25-file triggers give deterministic
    // batches the oracle reconstructs with one row_number.
    "s37_media_ingest" -> ((s, dir) => {
      import s.implicits._
      val tmp = gateScratch("s37")
      val base = t(s, dir, "documents").select("doc_id")
        .filter(col("doc_id") < 500 && col("doc_id") % 3 === 0)
      def mrec(df: DataFrame): Dataset[ops.Multimodal.MediaRecord] =
        df.select(col("media_id"), col("content"))
          .as[(Long, Array[Byte])]
          .map { case (i, c) => ops.Multimodal.MediaRecord(i, c,
            ops.Multimodal.MediaMeta("unknown", 0, 0, 0L)) }
      // frozen side: dHash index + base commit of the corpus rasters
      val corpusIds = base.filter(col("doc_id") % 6 === 0)
        .select(col("doc_id").as("media_id"), col("doc_id").as("gen"))
      val corpusMedia = ops.Multimodal.syntheticMediaFrom(
        corpusIds, "media_id", "gen")(s)
      val corpusFeats = ops.Multimodal.dhashWithFingerprint(corpusMedia)
        .toDF().select("media_id", "dhash", "fp").ckpt
      val frozenHashes = corpusFeats.select("media_id", "dhash")
      var seenFps = corpusFeats.select("fp")
      val main0 = ops.Layout.commitAppend(s,
          ops.Multimodal.grayRaster(corpusMedia).toDF()
            .select("media_id", "width", "height", "pixels"),
          s"$tmp/t", Seq("media_id"))
        .ckpt
      // incoming fixture → loose files with rank-ordered unique mtimes
      val inc = Seq(
        (2000000L, lit(0), col("doc_id") % 12 === 0, col("doc_id")),
        (3000000L, lit(1), col("doc_id") % 12 === 6, col("doc_id") + 768192L),
        (4000000L, lit(2), col("doc_id") % 12 === 3, col("doc_id") + 6000003L),
        (4500000L, lit(2), col("doc_id") % 24 === 3, col("doc_id") + 6000003L),
        (5000000L, lit(3), col("doc_id") % 12 === 9, col("doc_id")))
        .map { case (off, grp, pred, gen) =>
          base.filter(pred).select((col("doc_id") + off).as("media_id"),
            gen.as("gen"), grp.as("grp")) }
        .reduce(_ unionAll _)
      val blobs = ops.Multimodal.syntheticMediaFrom(inc, "media_id", "gen")(s)
        .map(r => (r.media_id, r.content)).toDF("media_id", "content")
        .join(inc.select("media_id", "grp"), Seq("media_id"))
        .collect().map(r =>
          (r.getLong(0), r.getAs[Array[Byte]](1), r.getInt(2)))
        .sortBy(x => (x._3, x._1))
      val inDir = java.nio.file.Paths.get(tmp, "in")
      java.nio.file.Files.createDirectories(inDir)
      blobs.zipWithIndex.foreach { case ((id, bytes, grp), k) =>
        val content = if (grp == 3) Array.fill(16)(0x00.toByte) else bytes
        val p = inDir.resolve(s"m$id.bin")
        java.nio.file.Files.write(p, content)
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + k * 1000L))
      }
      // running state: pack cursors, pack index, quarantine, the staged
      // branch manifest, and the pipeline's own ledger
      var seenPack = Seq.empty[(Int, Long)].toDF("shard", "n_bytes").ckpt
      var packTab = Seq.empty[(Long, Int, Long, Long)]
        .toDF("media_id", "shard", "offset", "length")
      var quarTab = Seq.empty[(Long, String)].toDF("media_id", "verdict")
      var staged: Option[DataFrame] = None
      var ledger = 0L
      withNarrowState(s) {
        val q = s.readStream.format("binaryFile")
          // binaryFile's fixed schema, spelled out: streaming sources
          // refuse to infer even a format-defined schema
          .schema(new org.apache.spark.sql.types.StructType()
            .add("path", "string").add("modificationTime", "timestamp")
            .add("length", "long").add("content", "binary"))
          .option("maxFilesPerTrigger", "25")
          .load(inDir.toString)
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            val batch = b.select(
              regexp_extract(col("path"), "m(\\d+)\\.bin$", 1)
                .cast("long").as("media_id"),
              col("content")).ckpt // triage+hash and raster both read it
            // 1+2. quarantine verdict, payload fingerprint AND dHash
            // from ONE decode pass (triageWithImageHash) — running m15
            // triage and the hash pass separately decodes twice
            val tri = ops.Multimodal.triageWithImageHash(mrec(batch))
              .toDF().ckpt
            quarTab = foldBound(s, quarTab.unionAll(
              tri.filter(col("status") =!= "ok")
                .select(col("media_id"), col("status").as("verdict")))).ckpt
            val feats = tri.filter(col("status") === "ok" &&
                col("format").isin("png", "jpeg"))
              .select("media_id", "dhash", "fp")
            // intra-batch exact pre-collapse: one min-id rep per payload
            val reps = feats.join(
              feats.groupBy("fp").agg(min("media_id").as("media_id")),
              Seq("fp", "media_id"), "left_semi")
            // 3. exactly-once exact dedup: the fingerprint set GROWS
            val fresh = reps.join(seenFps, Seq("fp"), "left_anti")
            // 4. near-dup admission vs the FROZEN perceptual-hash index
            val admitted = ops.Dedup.hammingFilter64(frozenHashes,
              fresh, "media_id", "dhash", maxHamming = 3).ckpt
            seenFps = foldBound(s,
              seenFps.unionAll(admitted.select("fp"))).ckpt
            val n = admitted.count()
            ledger += n
            if (n > 0) {
              // 5. normalize: decode survivors to gray rasters
              val ras = ops.Multimodal.grayRaster(mrec(batch.join(
                  admitted.select("media_id"), Seq("media_id"), "left_semi")))
                .toDF().select("media_id", "width", "height", "pixels").ckpt
              // 6. WAP: stage the rasters as one commit
              val c = ops.Layout.commitAppend(s, ras, s"$tmp/t",
                Seq("media_id")).ckpt
              staged = Some(staged.fold(c)(_ unionAll c))
              // 7. blob-pack fold (s35)
              val (pasg, nsp) = ops.Multimodal.packAssignBatch(seenPack,
                ras.select("media_id", "pixels"), "media_id", "pixels",
                nShards = 4)
              packTab = foldBound(s, packTab.unionAll(
                pasg.select(col("media_id"),
                  col("shard"), col("offset"), col("length")))).ckpt
              seenPack = nsp.ckpt
            }
            ()
          }
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // AUDIT before publish, then lineage over the merged main
      val staging = staged.getOrElse(main0.limit(0))
      val stagedRows = ops.Layout.snapshotRead(s, s"$tmp/t", staging).count()
      require(stagedRows == ledger,
        s"media ingest audit failed: staged $stagedRows != ledger $ledger" +
          " — not publishing")
      val published = ops.Layout.mergeBranch(main0, staging)
      val commits = ops.Layout.lineageRead(s, s"$tmp/t", published)
        .groupBy("commit_id")
        .agg(count(lit(1)).as("v1"), min("media_id").as("media_id"),
          max("media_id").as("v2"),
          sum(octet_length(col("pixels")).cast("long")).as("v3"))
      packTab.select(lit("pack").as("part"), col("media_id"),
          col("shard").cast("long").as("v1"), col("offset").as("v2"),
          col("length").as("v3"))
        .unionAll(commits.select(lit("commit").as("part"), col("media_id"),
          col("v1"), col("v2"), col("v3")))
        .unionAll(quarTab.select(lit("quar").as("part"), col("media_id"),
          when(col("verdict") === "unparseable", lit(0L)).otherwise(lit(1L))
            .as("v1"),
          lit(0L).as("v2"), lit(0L).as("v3")))
        .orderBy("part", "media_id")
    })
  )

  /** q91's plan, shared with RuntimeBloomPlanSpec: a fact⋈dim join
    * whose dim side carries a selective non-key filter — the shape the
    * runtime Bloom-filter rule targets (prune fact rows BEFORE the
    * join shuffle using a bloom built from the filtered dim keys). */
  private[graft] def q91BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val dim = t(s, dir, "orders")
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    li.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy("o_orderpriority")
  }

  /** q90's plan, shared with SkewJoinPlanSpec: an engineered-skew
    * fact⋈dim sort-merge join (one key carries 75% of the rows). */
  private[graft] def q90SkewJoin(s: SparkSession, dir: String): DataFrame = {
    // round-robin the fact side across 16 tasks first: AQE splits a
    // skewed reduce partition at MAP-BLOCK granularity, so a hot
    // partition fed by a single mapper (one small parquet file locally)
    // is unsplittable no matter its size. At 100 TB the map side has
    // thousands of scan tasks and this exchange does not exist — the
    // repartition recreates that many-mapper shape at fixture scale.
    val li = t(s, dir, "lineitem").repartition(16).select(
      when(col("l_orderkey") % 4 =!= 0, lit(1L))
        .otherwise(col("l_orderkey").cast("long")).as("jk"),
      col("l_quantity"))
    val dim = t(s, dir, "orders")
      .select(col("o_orderkey").cast("long").as("jk"), col("o_orderpriority"))
    li.join(dim, Seq("jk"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy("o_orderpriority")
  }

  /** Shared 16-token boilerplate header injected by the d27 gate —
    * referenced verbatim by both the Spark query and its oracle. */
  private val boilerplateHeader =
    "terms of service all rights reserved click here to accept cookies and continue to the site"

  /** 11-token duplicated span injected by the d40 gate (head for
    * doc_id%7==0, tail for %7==3) — shared verbatim with its oracle. */
  private val wireCopy =
    "syndicated wire copy redistributed with permission from the original newsroom desk"

  /** Rank-ordered merge table for the d41 encode gate — deliberately
    * cascading (th+e pairs t+h's output; an+d pairs a+n's), so the gate
    * proves ORDER-dependent replay, not just independent replaces. The
    * oracle's replace chain is generated from this same Seq. */
  private val bpeGateMerges = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "e" -> "r", "an" -> "d", "o" -> "n", "r" -> "e")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q2_join" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q3_except" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |EXCEPT
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 10 < 8
        |ORDER BY o_orderkey""".stripMargin,

    "q4_dupkeys" ->
      """SELECT o_custkey, COUNT(*) AS n FROM orders
        |GROUP BY o_custkey HAVING COUNT(*) >= 2 ORDER BY o_custkey""".stripMargin,

    "q5_key_md5" ->
      """SELECT c_custkey,
        |  md5(concat_ws('|', CAST(c_custkey AS VARCHAR), c_name, c_mktsegment)) AS row_key
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q6_diff" ->
      """WITH actual AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 <> 0)
        |SELECT r.o_orderkey AS expected_o_orderkey,
        |  a.o_orderkey AS actual_o_orderkey,
        |  r.o_totalprice AS expected_o_totalprice,
        |  a.o_totalprice AS actual_o_totalprice,
        |  CASE WHEN a.o_orderkey IS NULL THEN
        |    'o_totalprice,o_orderstatus,o_orderpriority,o_orderkey,o_orderdate,o_custkey'
        |  ELSE 'o_totalprice' END AS err
        |FROM orders r FULL OUTER JOIN actual a ON r.o_orderkey = a.o_orderkey
        |WHERE a.o_orderkey IS NULL OR r.o_totalprice <> a.o_totalprice
        |ORDER BY expected_o_orderkey""".stripMargin,

    "q46_cli_job" ->
      """WITH ref AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |act AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 59 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 53 <> 0)
        |SELECT r.o_orderkey AS expected_o_orderkey,
        |  a.o_orderkey AS actual_o_orderkey,
        |  r.o_totalprice AS expected_o_totalprice,
        |  a.o_totalprice AS actual_o_totalprice,
        |  CASE WHEN a.o_orderkey IS NULL
        |         THEN 'o_totalprice,o_orderstatus,o_orderkey'
        |       ELSE 'o_totalprice' END AS err
        |FROM ref r FULL OUTER JOIN act a ON r.o_orderkey = a.o_orderkey
        |WHERE a.o_orderkey IS NULL OR r.o_totalprice <> a.o_totalprice
        |ORDER BY expected_o_orderkey""".stripMargin,

    "q45_diff_nested" ->
      """WITH ref AS (
        |  SELECT p_partkey, p_brand AS brand, p_size + 1 AS s1 FROM part),
        |actual AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 89 = 0 THEN p_brand || 'X'
        |         ELSE p_brand END AS brand,
        |    CASE WHEN p_partkey % 83 = 0 THEN p_size + 100
        |         ELSE p_size + 1 END AS s1
        |  FROM part WHERE p_partkey % 97 <> 0)
        |SELECT r.p_partkey AS expected_p_partkey,
        |  a.p_partkey AS actual_p_partkey,
        |  r.brand AS expected_brand, a.brand AS actual_brand,
        |  r.s1 AS expected_sizes_1, a.s1 AS actual_sizes_1,
        |  CASE WHEN a.p_partkey IS NULL
        |         THEN 'sizes_1,sizes_0,p_partkey,info_type,info_brand'
        |       WHEN r.brand <> a.brand AND r.s1 <> a.s1
        |         THEN 'sizes_1,info_brand'
        |       WHEN r.brand <> a.brand THEN 'info_brand'
        |       ELSE 'sizes_1' END AS err
        |FROM ref r FULL OUTER JOIN actual a ON r.p_partkey = a.p_partkey
        |WHERE a.p_partkey IS NULL OR r.brand <> a.brand OR r.s1 <> a.s1
        |ORDER BY expected_p_partkey""".stripMargin,

    // canonical entries sort alphabetically by key (prio < stat), so the
    // perturbed prio value is entry 0 → errCol = attrs_0_value
    "q63_diff_map" ->
      """SELECT o_orderkey AS okey,
        |  'prio=' || o_orderpriority || ',stat=' || o_orderstatus AS exp_attrs,
        |  'prio=' || o_orderpriority || '_X,stat=' || o_orderstatus AS act_attrs,
        |  'attrs_0_value' AS errs
        |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY okey""".stripMargin,

    "q7_flatten" ->
      """SELECT p_partkey, p_brand AS info_brand, p_type AS info_type,
        |  p_size AS sizes_0, p_size + 1 AS sizes_1
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q8_selector" ->
      """SELECT l_discount, l_extendedprice, l_linenumber, l_linestatus,
        |  l_orderkey, l_partkey, l_quantity, l_returnflag, l_shipdate,
        |  l_suppkey, l_tax
        |FROM lineitem WHERE l_quantity <= 2 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q9_events_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q10_window_rank" ->
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q14_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_setops" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 100000.0
        |  INTERSECT
        |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION
        |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 1000 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    "q17_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin,

    "q26_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin,

    "q18_pivot" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_returnflag = 'A') AS DOUBLE) AS "A",
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_returnflag = 'N') AS DOUBLE) AS "N",
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS "R"
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q16_profile" -> {
      def c(name: String, kind: String): String = {
        val (minNum, maxNum) = kind match {
          case "num" => (s"CAST(MIN($name) AS DOUBLE)", s"CAST(MAX($name) AS DOUBLE)")
          case "ts" => (s"CAST(epoch(MIN($name)) AS DOUBLE)", s"CAST(epoch(MAX($name)) AS DOUBLE)")
          case _ => ("NULL::DOUBLE", "NULL::DOUBLE")
        }
        val (minStr, maxStr) = kind match {
          case "str" => (s"MIN($name)", s"MAX($name)")
          case _ => ("NULL::VARCHAR", "NULL::VARCHAR")
        }
        s"""SELECT '$name' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($name) AS n_nulls,
           |  COUNT(DISTINCT $name) AS n_distinct,
           |  $minNum AS min_num, $maxNum AS max_num,
           |  $minStr AS min_str, $maxStr AS max_str
           |FROM orders""".stripMargin
      }
      Seq(
        c("o_orderkey", "num"), c("o_custkey", "num"),
        c("o_orderstatus", "str"), c("o_totalprice", "num"),
        c("o_orderdate", "ts"), c("o_orderpriority", "str"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "q11_diff_keyless" ->
      """WITH actual AS (
        |  SELECT n_nationkey,
        |    CASE WHEN n_nationkey % 7 = 0 THEN n_name || '_X' ELSE n_name END AS n_name,
        |    n_regionkey
        |  FROM nation),
        |ref_only AS (
        |  SELECT * FROM nation EXCEPT SELECT * FROM actual),
        |act_only AS (
        |  SELECT * FROM actual EXCEPT SELECT * FROM nation)
        |SELECT n_nationkey AS expected_n_nationkey,
        |  NULL::INTEGER AS actual_n_nationkey,
        |  n_name AS expected_n_name, NULL::VARCHAR AS actual_n_name,
        |  'n_regionkey,n_nationkey,n_name' AS err
        |FROM ref_only
        |UNION ALL
        |SELECT NULL::INTEGER, n_nationkey, NULL::VARCHAR, n_name,
        |  'n_regionkey,n_nationkey,n_name'
        |FROM act_only
        |ORDER BY expected_n_nationkey NULLS LAST, actual_n_nationkey NULLS LAST""".stripMargin,

    "q12_diff_pinned_schema" ->
      """SELECT COUNT(*) AS ref_rows, COUNT(*) AS new_rows,
        |  0::BIGINT AS diff_rows, COUNT(*) AS passed_rows
        |FROM orders""".stripMargin,

    "q13_bigjoin" ->
      """SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "d7_simhash_pairs" -> {
      val sim = OracleSql.simhash("text")
      val chunkKeys = (0 until 4).map(c =>
        s"(sim >> ${c * 15}) & 32767").mkString("[", ", ", "]")
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text || ' zzz' AS text
         |  FROM documents WHERE doc_id % 50 = 0),
         |reps AS (
         |  SELECT MIN(doc_id) AS doc_id, arg_min(text, doc_id) AS text
         |  FROM aug GROUP BY md5(${OracleSql.norm("text")})),
         |sims AS (SELECT doc_id, $sim AS sim FROM reps),
         |banded AS (
         |  SELECT doc_id, sim, unnest($chunkKeys) AS key,
         |         unnest(range(0, 4)) AS chunk
         |  FROM sims),
         |capped AS (
         |  SELECT * FROM (
         |    SELECT *, COUNT(*) OVER (PARTITION BY chunk, key) AS bucket_sz
         |    FROM banded) WHERE bucket_sz <= 1000),
         |cands AS (
         |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
         |         CAST(bit_count(xor(l.sim, r.sim)) AS INTEGER) AS hamming
         |  FROM capped l JOIN capped r
         |    ON l.chunk = r.chunk AND l.key = r.key AND l.doc_id < r.doc_id)
         |SELECT id1, id2, hamming FROM cands WHERE hamming <= 3
         |ORDER BY id1, id2""".stripMargin
    },

    "d1_dedup_exact" ->
      s"""SELECT md5(${OracleSql.norm("text")}) AS fingerprint,
         |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // boundaries: i + k for shingle starts i with hash % 16 == 0 (h64 is
    // non-negative, so % == pmod); cuts bracketed by 0 and len(tk)
    "d37_cdc_chunks" -> {
      val k = 3
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      val shingle = s"array_to_string(tk[(i+1):(i+$k)], ' ')"
      s"""WITH d AS (
         |  SELECT doc_id, $tk AS tk FROM documents WHERE doc_id % 7 = 0),
         |s AS (
         |  SELECT doc_id, tk,
         |    list_transform(range(0, greatest(len(tk) - ${k - 1}, 1)),
         |      i -> ${OracleSql.h64(shingle)}) AS sh
         |  FROM d WHERE len(tk) > 0),
         |b AS (
         |  SELECT doc_id, tk,
         |    CAST([0] AS BIGINT[]) ||
         |      list_filter(
         |        list_transform(range(0, len(sh)),
         |          i -> CASE WHEN sh[i+1] % 16 = 0 AND i + $k < len(tk)
         |                    THEN i + $k END),
         |        x -> x IS NOT NULL) ||
         |      CAST([len(tk)] AS BIGINT[]) AS cuts
         |  FROM s)
         |SELECT doc_id AS doc, CAST(j AS BIGINT) AS chunk_idx,
         |  CAST(cuts[j+1] AS BIGINT) AS start_tok,
         |  CAST(cuts[j+2] - cuts[j+1] AS BIGINT) AS n_tokens,
         |  ${OracleSql.h64(s"array_to_string(tk[(cuts[j+1]+1):(cuts[j+2])], ' ')")}
         |    AS chunk_hash
         |FROM b, UNNEST(range(0, len(cuts) - 1)) AS t(j)
         |ORDER BY doc, chunk_idx""".stripMargin
    },

    "d36_incremental_dedup" ->
      s"""WITH batch AS (
         |  SELECT md5(${OracleSql.norm("text")}) AS fingerprint,
         |    MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         |  FROM documents GROUP BY 1),
         |known AS (
         |  SELECT DISTINCT md5(${OracleSql.norm("text")}) AS fingerprint
         |  FROM documents WHERE doc_id % 3 = 0)
         |SELECT b.fingerprint, b.keep_id, b.n_copies FROM batch b
         |WHERE NOT EXISTS (SELECT 1 FROM known k
         |                  WHERE k.fingerprint = b.fingerprint)
         |ORDER BY b.fingerprint""".stripMargin,

    "d43_neardup_incremental" -> OracleSql.nearDupIncremental(
      "SELECT doc_id, text FROM documents",
      """SELECT doc_id + 2000000 AS doc_id, text || ' zzz extra suffix' AS text
        |  FROM documents WHERE doc_id % 10 = 3
        |UNION ALL SELECT doc_id + 3000000, text
        |  FROM documents WHERE doc_id % 10 = 7
        |UNION ALL SELECT doc_id + 4000000, reverse(text)
        |  FROM documents WHERE doc_id % 10 = 5""".stripMargin,
      k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000),

    // identical scenario to d43 — the persisted-index round trip must
    // admit exactly what the in-session index admits
    "d47_neardup_persisted" -> OracleSql.nearDupIncremental(
      "SELECT doc_id, text FROM documents",
      """SELECT doc_id + 2000000 AS doc_id, text || ' zzz extra suffix' AS text
        |  FROM documents WHERE doc_id % 10 = 3
        |UNION ALL SELECT doc_id + 3000000, text
        |  FROM documents WHERE doc_id % 10 = 7
        |UNION ALL SELECT doc_id + 4000000, reverse(text)
        |  FROM documents WHERE doc_id % 10 = 5""".stripMargin,
      k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000),

    // day-2 admission against the EXTENDED index == admission against a
    // rebuilt corpus ∪ day-1 index (cap-cold equality; day-1 reversed
    // rows are all admitted by construction, so the rebuilt corpus is
    // directly expressible without nesting the round-1 pipeline)
    "d48_neardup_extend" -> OracleSql.nearDupIncremental(
      """SELECT doc_id, text FROM documents
        |UNION ALL SELECT doc_id + 4000000, reverse(text)
        |  FROM documents WHERE doc_id % 10 = 5""".stripMargin,
      """SELECT doc_id + 5000000 AS doc_id,
        |    reverse(text) || ' zzz extra suffix' AS text
        |  FROM documents WHERE doc_id % 10 = 5
        |UNION ALL SELECT doc_id + 6000000, reverse(text)
        |  FROM documents WHERE doc_id % 10 = 5
        |UNION ALL SELECT doc_id + 7000000, reverse(text)
        |  FROM documents WHERE doc_id % 10 = 6""".stripMargin,
      k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000),

    // day-2 admission against the extended-then-SHRUNK index == one
    // admission replay over (surviving corpus ∪ day-1 batch): removing
    // whole exact-dup groups must be indistinguishable from a rebuild
    // over the survivors (day-1 reversed rows all admitted by
    // construction, as in d48)
    "d63_neardup_maintenance_cycle" -> OracleSql.nearDupIncremental(
      s"""SELECT doc_id, text FROM documents
         |WHERE md5(${OracleSql.norm("text")}) IN (
         |  SELECT md5(${OracleSql.norm("text")}) FROM documents
         |  GROUP BY md5(${OracleSql.norm("text")})
         |  HAVING MIN(doc_id) % 9 <> 4)
         |UNION ALL SELECT doc_id + 4000000, reverse(text)
         |  FROM documents WHERE doc_id % 10 = 5""".stripMargin,
      s"""SELECT doc_id + 8000000 AS doc_id, text FROM documents
         |  WHERE md5(${OracleSql.norm("text")}) IN (
         |    SELECT md5(${OracleSql.norm("text")}) FROM documents
         |    GROUP BY md5(${OracleSql.norm("text")})
         |    HAVING MIN(doc_id) % 9 = 4)
         |UNION ALL SELECT doc_id + 9000000, reverse(text)
         |  FROM documents WHERE doc_id % 10 = 5
         |UNION ALL SELECT doc_id + 2000000, text || ' zzz extra suffix'
         |  FROM documents WHERE doc_id % 10 = 3
         |UNION ALL SELECT doc_id + 7000000, reverse(text)
         |  FROM documents WHERE doc_id % 10 = 6""".stripMargin,
      k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000),

    // full pipeline composition: lang filter → d35 scoring → exact-dedup
    // reps → CDC chunk/token counts per surviving doc. n_chunks =
    // 1 + #interior boundaries, n_tokens = len(tk) — no chunk
    // enumeration needed oracle-side
    "d38_training_pipeline" -> {
      val k = 3
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      val shingle = s"array_to_string(tk[(i+1):(i+$k)], ' ')"
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
         |tokc AS (SELECT doc_id, $tk AS tk FROM d),
         |tok AS (SELECT doc_id AS doc, unnest(tk) AS token FROM tokc),
         |perdoc AS (SELECT doc, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |sc AS (SELECT doc,
         |  SUM(tf * (((${OracleSql.h64("token")} % 64) % 7) - 3)) AS score
         |  FROM perdoc GROUP BY doc),
         |kept AS (SELECT d.doc_id, d.text FROM d
         |  JOIN sc ON sc.doc = d.doc_id WHERE sc.score >= 0),
         |reps AS (SELECT MIN(doc_id) AS doc_id FROM kept
         |  GROUP BY md5(${OracleSql.norm("text")})),
         |surv AS (SELECT tokc.doc_id, tk FROM tokc
         |  JOIN reps ON reps.doc_id = tokc.doc_id WHERE len(tk) > 0),
         |sh AS (SELECT doc_id, tk,
         |  list_transform(range(0, greatest(len(tk) - ${k - 1}, 1)),
         |    i -> ${OracleSql.h64(shingle)}) AS sh
         |  FROM surv)
         |SELECT doc_id AS doc,
         |  CAST(1 + len(list_filter(
         |    list_transform(range(0, len(sh)),
         |      i -> CASE WHEN sh[i+1] % 16 = 0 AND i + $k < len(tk)
         |                THEN 1 END),
         |    x -> x IS NOT NULL)) AS BIGINT) AS n_chunks,
         |  CAST(len(tk) AS BIGINT) AS n_tokens
         |FROM sh ORDER BY doc""".stripMargin
    },

    // streaming counterpart of d36: same survivor semantics, computed by
    // the micro-batch engine (stream-static left_anti + complete agg)
    "s10_stream_incr_dedup" ->
      s"""WITH batch AS (
         |  SELECT md5(${OracleSql.norm("text")}) AS fingerprint,
         |    MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         |  FROM documents GROUP BY 1),
         |known AS (
         |  SELECT DISTINCT md5(${OracleSql.norm("text")}) AS fingerprint
         |  FROM documents WHERE doc_id % 3 = 0)
         |SELECT b.fingerprint, b.keep_id, b.n_copies FROM batch b
         |WHERE NOT EXISTS (SELECT 1 FROM known k
         |                  WHERE k.fingerprint = b.fingerprint)
         |ORDER BY b.fingerprint""".stripMargin,

    "d12_clean_corpus" ->
      s"""SELECT md5(${OracleSql.norm("text")}) AS fingerprint,
         |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         |FROM documents
         |WHERE ${OracleSql.langIdCase("text")} = 'en'
         |  AND ${OracleSql.qualityScore("text")} >= 0.5
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q24_salted_join" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |  COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q25_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS kind FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey, kind""".stripMargin,

    "q23_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN epoch_us(ts) // 1000000
        |              - epoch_us(LAG(ts) OVER w) // 1000000 > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, event_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events,
        |  MAX(epoch_us(ts) // 1000000) - MIN(epoch_us(ts) // 1000000) AS dur_s
        |FROM sessions GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q27_partitioned_scan" ->
      """SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "s2_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // doubled rows dedupe within the watermark horizon back to the
    // original events table
    "s15_stream_dedup_watermark" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q33_array_agg" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q32_merge_schema" ->
      """SELECT n_nationkey, n_name, NULL::INTEGER AS n_regionkey FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey, n_regionkey NULLS LAST""".stripMargin,

    "q31_json_roundtrip" ->
      """SELECT n_nationkey, n_name AS name,
        |  CAST(n_regionkey AS BIGINT) AS regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q29_window_funcs" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber,
        |  NTILE(4) OVER w AS quartile,
        |  CUME_DIST() OVER w AS cd,
        |  LEAD(l_orderkey, 1) OVER w AS next_key
        |FROM lineitem WHERE l_quantity <= 3
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber)
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin,

    "q30_editdist" ->
      """SELECT c_custkey, c_name,
        |  levenshtein(c_name, 'Customer#000000042') AS dist
        |FROM customer WHERE levenshtein(c_name, 'Customer#000000042') <= 3
        |ORDER BY c_custkey""".stripMargin,

    "q28_digest" -> {
      val enc = OracleSql.h64(
        "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), " +
          "o_orderstatus, o_orderpriority)")
      s"""WITH a AS (
         |  SELECT COUNT(*) AS n, SUM(CAST($enc AS DECIMAL(38,0))) AS dig
         |  FROM orders),
         |p AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 500 = 0 THEN 'X' ELSE o_orderstatus END
         |      AS o_orderstatus,
         |    o_orderpriority
         |  FROM orders),
         |b AS (
         |  SELECT COUNT(*) AS n, SUM(CAST($enc AS DECIMAL(38,0))) AS dig
         |  FROM p)
         |SELECT a.n AS a_rows, CAST(a.dig AS VARCHAR) AS a_digest,
         |  b.n AS b_rows, CAST(b.dig AS VARCHAR) AS b_digest,
         |  a.n AS c_rows, CAST(a.dig AS VARCHAR) AS c_digest,
         |  a.dig = b.dig AS b_matches,
         |  a.dig = a.dig AS c_matches
         |FROM a, b""".stripMargin
    },

    "s3_stream_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT p.user_id, p.event_id AS p_id, v.event_id AS v_id
        |FROM e p JOIN e v
        |  ON p.event_type = 'purchase' AND v.event_type = 'view'
        | AND p.user_id % 7 = 0
        | AND p.user_id = v.user_id
        | AND v.ts >= p.ts - INTERVAL 1 HOUR
        | AND v.ts <= p.ts + INTERVAL 1 HOUR
        |ORDER BY p.user_id, p_id, v_id""".stripMargin,

    // matched rows = the plain interval join; null-padded rows = the
    // watermark-evicted unmatched purchases. Watermark arithmetic in
    // BIGINT epoch-ms exactly as Spark computes it: per-stream max
    // event time floors to ms, global watermark = min of both − 2 h;
    // a purchase evicts once its match-window upper bound (p_ts + 1 h)
    // sits strictly below the watermark
    "s12_stream_outer_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE user_id % 7 = 1),
        |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM e
        |      WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS v_user, event_id AS v_id, ts AS v_ts FROM e
        |      WHERE event_type = 'view'),
        |wm AS (SELECT least((SELECT epoch_ms(MAX(p_ts)) FROM p),
        |                    (SELECT epoch_ms(MAX(v_ts)) FROM v))
        |              - 7200000 AS w_ms),
        |matched AS (
        |  SELECT p.user_id, p.p_id, v.v_id
        |  FROM p JOIN v ON p.user_id = v.v_user
        |   AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
        |   AND v.v_ts <= p.p_ts + INTERVAL 1 HOUR),
        |evicted_null AS (
        |  SELECT p.user_id, p.p_id, NULL::BIGINT AS v_id
        |  FROM p, wm
        |  WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.p_id = p.p_id)
        |    AND epoch_ms(p.p_ts) + 3600000 < wm.w_ms)
        |SELECT user_id, p_id, v_id FROM matched
        |UNION ALL SELECT user_id, p_id, v_id FROM evicted_null
        |ORDER BY user_id, p_id, v_id""".stripMargin,

    "s1_stream_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // a matched left row emits exactly once, so append output is the
    // plain EXISTS semi — no watermark-horizon caveat on matches
    "s16_stream_semi_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE user_id % 7 = 1),
        |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM e
        |      WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS v_user, ts AS v_ts FROM e
        |      WHERE event_type = 'view')
        |SELECT user_id, p_id FROM p
        |WHERE EXISTS (SELECT 1 FROM v WHERE v_user = user_id
        |  AND v_ts >= p_ts - INTERVAL 1 HOUR
        |  AND v_ts <= p_ts + INTERVAL 1 HOUR)
        |ORDER BY user_id, p_id""".stripMargin,

    // time-ordered arrival makes the streaming quota the global
    // (ts, event_id) first-3 per user — a plain row_number replay
    "s19_stream_quota" ->
      """WITH v AS (
        |  SELECT user_id, event_id, ROW_NUMBER() OVER (
        |    PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events WHERE event_type = 'view')
        |SELECT user_id, event_id FROM v WHERE rn <= 3
        |ORDER BY user_id, event_id""".stripMargin,

    // prior-history moments via 1-PRECEDING windows; the cross-
    // multiplied integer z-test never divides, so the 3σ boundary is
    // engine-exact
    "s20_stream_anomaly" ->
      """WITH p AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (
        |  SELECT user_id, event_id, c,
        |    COUNT(*) OVER win AS n,
        |    COALESCE(SUM(c) OVER win, 0) AS s,
        |    COALESCE(SUM(c * c) OVER win, 0) AS ss
        |  FROM p
        |  WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id FROM w
        |WHERE n >= 8 AND (n*c - s) * (n*c - s) > 9 * (n*ss - s*s)
        |ORDER BY user_id, event_id""".stripMargin,

    // same 6h-epoch-aligned windows, integer-ppm proportions, absent
    // types contributing their full reference share
    "s18_stream_drift" ->
      """WITH e AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS wid,
        |         event_type
        |  FROM events),
        |reft AS (
        |  SELECT event_type,
        |         COUNT(*) * 1000000 // (SELECT COUNT(*) FROM e) AS ref_ppm
        |  FROM e GROUP BY event_type),
        |cnt AS (SELECT wid, event_type, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |wtot AS (SELECT wid, COUNT(*) AS wt FROM e GROUP BY 1),
        |obs AS (
        |  SELECT s.wid, s.wt, s.ref_ppm, COALESCE(c.n, 0) AS n
        |  FROM (SELECT w.wid, w.wt, r.event_type, r.ref_ppm
        |        FROM wtot w CROSS JOIN reft r) s
        |  LEFT JOIN cnt c ON c.wid = s.wid AND c.event_type = s.event_type)
        |SELECT wid * 21600 AS w_start_s, CAST(SUM(n) AS BIGINT) AS n_events,
        |       CAST(SUM(ABS(n * 1000000 // wt - ref_ppm)) AS BIGINT) AS l1_ppm
        |FROM obs GROUP BY wid ORDER BY w_start_s""".stripMargin,

    // the incremental fold must land exactly on the batch SCD2 build —
    // q37's oracle verbatim
    "s17_stream_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS tss
        |           FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, event_type, tss,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY tss, event_id) AS prev
        |  FROM e),
        |changed AS (
        |  SELECT user_id, event_id, event_type, tss FROM flagged
        |  WHERE prev IS NULL OR event_type <> prev),
        |v AS (
        |  SELECT user_id, event_id, event_type, tss AS valid_from,
        |    LEAD(tss) OVER (PARTITION BY user_id
        |                    ORDER BY tss, event_id) AS valid_to
        |  FROM changed)
        |SELECT user_id, event_id, event_type, valid_from, valid_to,
        |       (valid_to IS NULL) AS is_current
        |FROM v ORDER BY user_id, valid_from, event_id""".stripMargin,

    "q22_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "d2_text_stats" -> {
      val len = "CAST(length(text) AS DOUBLE)"
      val glen = "CAST(greatest(length(text), 1) AS DOUBLE)"
      val punct = s"CAST(length(text) - length(regexp_replace(text, '[.,;:!?''\"()-]', '', 'g')) AS DOUBLE)"
      val digit = s"CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)"
      val nToks = s"len(${OracleSql.toks("text")})"
      val sumLen = s"CAST(list_aggregate(list_transform(${OracleSql.toks("text")}, t -> length(t)), 'sum') AS DOUBLE)"
      val mtl = s"(CASE WHEN $nToks = 0 THEN 0.0 ELSE $sumLen / CAST($nToks AS DOUBLE) END)"
      s"""SELECT doc_id,
         |  (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE $nToks END) AS n_tokens,
         |  len(regexp_extract_all(text, '${functions.TextFunctions.bpeTokenPattern.replace("'", "''")}')) AS n_bpe,
         |  $punct / $glen AS punct_ratio,
         |  (least($len / 200.0, 1.0) * 0.4
         |   + (1.0 - least(($punct / $glen) * 4.0, 1.0)) * 0.25
         |   + (1.0 - least(($digit / $glen) * 4.0, 1.0)) * 0.15
         |   + (CASE WHEN $mtl >= 3.0 AND $mtl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2)
         |  AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "d3_langid" -> {
      val langs = functions.TextFunctions.languages
      val hits = langs.map(l => l -> OracleSql.stopwordHits("text", l)).toMap
      val best = "greatest(" + langs.map(hits).mkString(", ") + ")"
      val cases = langs.map(l =>
        s"WHEN ${hits(l)} = best_score AND best_score > 0 THEN '$l'").mkString("\n    ")
      s"""SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
         |FROM (SELECT doc_id, text, $best AS best_score FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "d4_minhash_sig" -> {
      val sig = OracleSql.minhashSig("text", 4, 3)
      s"""SELECT doc_id, sig[1] AS sig_0, sig[2] AS sig_1,
         |  sig[3] AS sig_2, sig[4] AS sig_3
         |FROM (SELECT doc_id, $sig AS sig FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "d5_simhash" ->
      s"""SELECT doc_id, ${OracleSql.simhash("text")} AS sim
         |FROM documents ORDER BY doc_id""".stripMargin,

    "d6_lsh_pairs" -> OracleSql.minhashLshPairs(
      """SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text || ' zzz extra suffix' AS text
        |  FROM documents WHERE doc_id % 50 = 0""".stripMargin,
      k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000),

    "d8_lsh_dupcluster" -> OracleSql.minhashLshPairs(
      """SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 2000000 + i AS doc_id, text
        |  FROM documents, range(5000) AS t(i) WHERE doc_id = 0
        |  UNION ALL
        |  SELECT 3000000 AS doc_id, text || ' zzz tail' AS text
        |  FROM documents WHERE doc_id = 0""".stripMargin,
      k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 50),

    "q19_asof" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |u AS (
        |  SELECT user_id, ts, 1 AS tag, event_id, value,
        |         NULL::TIMESTAMP AS r_ts, NULL::DOUBLE AS r_value
        |  FROM e WHERE event_type = 'purchase'
        |  UNION ALL
        |  -- mirror AsOf.asOfJoin's max(struct(ts, value)) reduction: one
        |  -- deterministic view payload per (user_id, ts), so tied rows
        |  -- can never make LAST_VALUE engine-dependent
        |  SELECT user_id, ts, 0, NULL, NULL, ts, MAX(value)
        |  FROM e WHERE event_type = 'view' GROUP BY user_id, ts),
        |f AS (
        |  SELECT user_id, ts, tag, event_id, value,
        |    LAST_VALUE(r_ts IGNORE NULLS) OVER w AS asof_ts,
        |    LAST_VALUE(r_value IGNORE NULLS) OVER w AS asof_value
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |       epoch_us(asof_ts) AS asof_ts_us, asof_value
        |FROM f WHERE tag = 1 ORDER BY user_id, event_id""".stripMargin,

    // q19's chain plus the 30-minute integer-micros tolerance: an
    // out-of-gap match nulls BOTH carried columns, as if absent
    "q74_asof_tolerance" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |u AS (
        |  SELECT user_id, ts, 1 AS tag, event_id, value,
        |         NULL::TIMESTAMP AS r_ts, NULL::DOUBLE AS r_value
        |  FROM e WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 0, NULL, NULL, ts, MAX(value)
        |  FROM e WHERE event_type = 'view' GROUP BY user_id, ts),
        |f AS (
        |  SELECT user_id, ts, tag, event_id, value,
        |    LAST_VALUE(r_ts IGNORE NULLS) OVER w AS asof_ts,
        |    LAST_VALUE(r_value IGNORE NULLS) OVER w AS asof_value
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT user_id, event_id, ts, value, asof_ts, asof_value,
        |    (asof_ts IS NOT NULL AND
        |     epoch_us(ts) - epoch_us(asof_ts) <= 1800000000) AS keep
        |  FROM f WHERE tag = 1)
        |SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |  CASE WHEN keep THEN epoch_us(asof_ts) END AS asof_ts_us,
        |  CASE WHEN keep THEN asof_value END AS asof_value
        |FROM g ORDER BY user_id, event_id""".stripMargin,

    "q44_funnel" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS tss
        |           FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, event_type, tss,
        |    CASE WHEN tss - LAG(tss) OVER w > 1800 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tss, event_id)),
        |sess AS (
        |  SELECT user_id, event_type, tss,
        |    SUM(ns) OVER (PARTITION BY user_id ORDER BY tss, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged),
        |persess AS (
        |  SELECT user_id, session_id,
        |    MIN(CASE WHEN event_type = 'view' THEN tss END) AS first_view,
        |    MAX(CASE WHEN event_type = 'purchase' THEN tss END) AS last_purchase
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(CASE WHEN first_view IS NOT NULL AND last_purchase IS NOT NULL
        |                 AND last_purchase >= first_view THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_converted
        |FROM persess GROUP BY 1 ORDER BY 1""".stripMargin,

    "q43_asof_forward" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |u AS (
        |  SELECT user_id, ts, 0 AS tag, event_id, value,
        |         NULL::TIMESTAMP AS r_ts, NULL::DOUBLE AS r_value
        |  FROM e WHERE event_type = 'purchase'
        |  UNION ALL
        |  -- mirror the forward reduction: min(struct(ts, value)) per
        |  -- (user_id, ts) = MIN(value) at that ts
        |  SELECT user_id, ts, 1, NULL, NULL, ts, MIN(value)
        |  FROM e WHERE event_type = 'view' GROUP BY user_id, ts),
        |f AS (
        |  SELECT user_id, ts, tag, event_id, value,
        |    FIRST_VALUE(r_ts IGNORE NULLS) OVER w AS asof_ts,
        |    FIRST_VALUE(r_value IGNORE NULLS) OVER w AS asof_value
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag
        |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |       epoch_us(asof_ts) AS asof_ts_us, asof_value
        |FROM f WHERE tag = 0 ORDER BY user_id, event_id""".stripMargin,

    "q20_range_window" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |           FROM events)
        |SELECT user_id, event_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) OVER w AS DOUBLE) AS sum_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "d9_dup_clusters" -> {
      val pairsSql = OracleSql.minhashLshPairs(
        leakageAugSql,
        k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000)
      s"""WITH RECURSIVE pairs AS (
         |$pairsSql
         |),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION
         |  SELECT id2, id1 FROM pairs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b)
         |SELECT node, MIN(lab) AS cluster_rep FROM reach
         |GROUP BY node ORDER BY node""".stripMargin
    },

    // d9's cluster chain + the d28 split rule, folded per cluster; only
    // straddling clusters survive the HAVING
    "d59_split_leakage" -> {
      val pairsSql = OracleSql.minhashLshPairs(
        leakageAugSql,
        k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000)
      val h = OracleSql.h64("'graft-split' || '-' || CAST(node AS VARCHAR)")
      s"""WITH RECURSIVE pairs AS (
         |$pairsSql
         |),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION
         |  SELECT id2, id1 FROM pairs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
         |cc AS (SELECT node, MIN(lab) AS cluster_rep FROM reach GROUP BY node),
         |sp AS (SELECT node, CASE WHEN $h % 100 < 80 THEN 'train'
         |                         WHEN $h % 100 < 90 THEN 'val'
         |                         ELSE 'test' END AS split
         |       FROM cc)
         |SELECT cluster_rep,
         |  CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM cc JOIN sp USING (node)
         |GROUP BY 1 HAVING COUNT(DISTINCT split) > 1
         |ORDER BY cluster_rep""".stripMargin
    },

    // d59's chain, resolved: every doc takes its cluster rep's split
    "d60_split_reseat" -> {
      val pairsSql = OracleSql.minhashLshPairs(
        leakageAugSql,
        k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000)
      val h = OracleSql.h64("'graft-split' || '-' || CAST(doc_id AS VARCHAR)")
      s"""WITH RECURSIVE pairs AS (
         |$pairsSql
         |),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION
         |  SELECT id2, id1 FROM pairs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
         |cc AS (SELECT node, MIN(lab) AS cluster_rep FROM reach GROUP BY node),
         |d AS (
         |  SELECT doc_id FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 50 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000 FROM documents WHERE doc_id % 50 = 0),
         |sp AS (SELECT doc_id, CASE WHEN $h % 100 < 80 THEN 'train'
         |                           WHEN $h % 100 < 90 THEN 'val'
         |                           ELSE 'test' END AS split
         |       FROM d)
         |SELECT sp.doc_id,
         |  COALESCE(rs.split, sp.split) AS split,
         |  (COALESCE(rs.split, sp.split) <> sp.split) AS reseated
         |FROM sp
         |LEFT JOIN cc ON cc.node = sp.doc_id
         |LEFT JOIN sp rs ON rs.doc_id = cc.cluster_rep
         |ORDER BY sp.doc_id""".stripMargin
    },

    "q36_cdc_merge" ->
      """WITH chg AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |         o_totalprice + 10.0 AS o_totalprice, false AS is_delete
        |  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, true
        |  FROM orders WHERE o_orderkey % 13 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'I', 1.0, false
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg)
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM chg
        |WHERE NOT is_delete
        |ORDER BY o_orderkey""".stripMargin,

    "s5_stream_hopping" ->
      """WITH e AS (SELECT event_type, value,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS tsec
        |           FROM events),
        |w AS (SELECT event_type, value,
        |             unnest(range((tsec - 3600) // 1800 + 1, tsec // 1800 + 1)) AS wn
        |      FROM e)
        |SELECT wn * 1800 AS win_s, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "s4_stream_session" ->
      """WITH e AS (SELECT user_id,
        |                  epoch_ms(CAST(ts AS TIMESTAMP)) AS tms FROM events),
        |flagged AS (
        |  SELECT user_id, tms,
        |    CASE WHEN tms - LAG(tms) OVER w > 1800000 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
        |sess AS (
        |  SELECT user_id, tms,
        |    SUM(ns) OVER (PARTITION BY user_id ORDER BY tms
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, sid, COUNT(*) AS n_events,
        |         MIN(tms) AS start_ms, MAX(tms) AS end_ms
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id, n_events, start_ms, end_ms
        |FROM (SELECT *, MAX(sid) OVER (PARTITION BY user_id) AS msid FROM agg)
        |WHERE sid < msid
        |ORDER BY user_id, start_ms""".stripMargin,

    "q34_range_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS tss
        |           FROM events),
        |v AS (SELECT user_id, event_id AS v_id, tss AS v_ts
        |      FROM e WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS p_id, tss AS p_start,
        |             tss + 1800 AS p_end
        |      FROM e WHERE event_type = 'purchase' AND user_id % 5 = 0)
        |SELECT v.user_id, p_id, v_id, v_ts
        |FROM v JOIN p ON v.user_id = p.user_id
        |             AND v_ts >= p_start AND v_ts <= p_end
        |ORDER BY v.user_id, p_id, v_id""".stripMargin,

    "q35_zorder" -> {
      val z = (0 until 10).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""SELECT event_id, $z AS zval
         |FROM (SELECT event_id, user_id % 1024 AS x, event_id % 1024 AS y
         |      FROM events)
         |ORDER BY zval, event_id""".stripMargin
    },

    "d13_chunk" -> {
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      """WITH toks AS (
        |  SELECT doc_id, TK AS tk FROM documents WHERE doc_id % 5 = 0),
        |chunks AS (
        |  SELECT doc_id, unnest(range(0, (greatest(len(tk), 1) - 1) // 40 + 1)) AS chunk_id,
        |         tk
        |  FROM toks)
        |SELECT doc_id, chunk_id,
        |  CAST(len(tk[(chunk_id * 40 + 1):(chunk_id * 40 + 50)]) AS BIGINT)
        |    AS n_chunk_tokens,
        |  array_to_string(tk[(chunk_id * 40 + 1):(chunk_id * 40 + 50)], ' ')
        |    AS chunk_text
        |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin.replace("TK", tk)
    },

    "d14_redact" -> {
      val seeded = "text || ' Contact: user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com or call +1 555 000 ' || CAST(doc_id % 10000 AS VARCHAR) || " +
        "' ref ' || CAST(doc_id + 7100000 AS VARCHAR)"
      // generated from the SAME pattern list the engine applies, so the
      // two sides cannot drift
      val redacted = functions.TextFunctions.redactions.foldLeft(s"($seeded)") {
        case (acc, (pat, tag)) => s"regexp_replace($acc, '$pat', '$tag', 'g')"
      }
      s"""SELECT doc_id, $redacted AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "d15_group_sample" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY ${OracleSql.h64("'graft-sample-' || CAST(doc_id AS VARCHAR)")},
         |             doc_id) AS rn
         |  FROM documents) WHERE rn <= 5
         |ORDER BY lang, doc_id""".stripMargin,

    // bucket = portable 60-bit md5 hash mod 64 (non-negative, so % == pmod);
    // weight(bucket) = bucket % 7 - 3, matching the gate's model table
    "d35_quality_model" -> {
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |tok AS (SELECT doc_id AS doc, unnest($tk) AS token FROM d),
         |perdoc AS (SELECT doc, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |sc AS (SELECT doc,
         |  CAST(SUM(tf * (((${OracleSql.h64("token")} % 64) % 7) - 3)) AS BIGINT)
         |    AS score
         |  FROM perdoc GROUP BY doc)
         |SELECT doc, score, score >= 0 AS kept FROM sc ORDER BY doc""".stripMargin
    },

    "d16_tfidf" -> {
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |tok AS (SELECT doc_id AS doc, unnest($tk) AS token FROM d),
         |perdoc AS (SELECT doc, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |docfreq AS (SELECT token, COUNT(*) AS df FROM perdoc GROUP BY 1),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM d)
         |SELECT doc, token, tf, df,
         |  tf * ((CAST(1000000 AS BIGINT) * (nd + 1)) // (df + 1)) AS tf_idf_scaled
         |FROM perdoc JOIN docfreq USING (token), n
         |ORDER BY doc, token""".stripMargin
    },

    "d39_bpe_merges" -> OracleSql.bpeMerges(
      "SELECT text FROM documents WHERE doc_id % 10 = 0", merges = 8),

    // ln-based TF-IDF rounded to 4 decimals (see the gate comment): the
    // division, +1, and ×tf are correctly-rounded IEEE ops on identical
    // inputs in both engines; only ln can differ, by ≤1 ulp, which the
    // rounding absorbs
    "d34_tfidf_float" -> {
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |tok AS (SELECT doc_id AS doc, unnest($tk) AS token FROM d),
         |perdoc AS (SELECT doc, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |docfreq AS (SELECT token, COUNT(*) AS df FROM perdoc GROUP BY 1),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM d)
         |SELECT doc, token,
         |  ROUND(tf * (ln((nd + 1.0) / (df + 1.0)) + 1.0), 4) AS tf_idf_r4
         |FROM perdoc JOIN docfreq USING (token), n
         |ORDER BY doc, token""".stripMargin
    },

    "d17_dedup_corpus" -> {
      val augSql =
        """SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text || ' zzz extra suffix' AS text
          |  FROM documents WHERE doc_id % 50 = 0
          |  UNION ALL
          |  SELECT doc_id + 2000000 AS doc_id, text || ' zzz more suffix' AS text
          |  FROM documents WHERE doc_id % 50 = 0""".stripMargin
      val pairsSql = OracleSql.minhashLshPairs(augSql,
        k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000)
      s"""WITH RECURSIVE pairs AS (
         |$pairsSql
         |),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION
         |  SELECT id2, id1 FROM pairs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
         |clusters AS (SELECT node, MIN(lab) AS rep FROM reach GROUP BY node),
         |aug2 AS ($augSql),
         |keepers AS (
         |  SELECT MIN(doc_id) AS doc_id FROM aug2
         |  GROUP BY md5(${OracleSql.norm("text")}))
         |SELECT doc_id FROM keepers
         |WHERE doc_id NOT IN (SELECT node FROM clusters WHERE node <> rep)
         |ORDER BY doc_id""".stripMargin
    },

    // d6's pairs chain + d17's reach CC + the quality argmax pick:
    // max(struct(score, −id)) ≡ ORDER BY q DESC, doc_id ASC
    "d46_collapse_best" -> {
      val augSql =
        """SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text || ' zzz extra suffix' AS text
          |  FROM documents WHERE doc_id % 50 = 0""".stripMargin
      val pairsSql = OracleSql.minhashLshPairs(augSql,
        k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000)
      s"""WITH RECURSIVE pairs AS (
         |$pairsSql
         |),
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM pairs
         |  UNION
         |  SELECT id2, id1 FROM pairs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
         |clusters AS (SELECT node, MIN(lab) AS rep FROM reach GROUP BY node),
         |aug2 AS ($augSql),
         |scored AS (
         |  SELECT doc_id, ${OracleSql.qualityScore("text")} AS q FROM aug2),
         |withc AS (
         |  SELECT s.doc_id, s.q, COALESCE(c.rep, s.doc_id) AS cluster_rep
         |  FROM scored s LEFT JOIN clusters c ON c.node = s.doc_id),
         |picked AS (
         |  SELECT cluster_rep, doc_id AS keep_id, q AS keep_score,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_rep
         |      ORDER BY q DESC, doc_id) AS rn
         |  FROM withc),
         |cnt AS (SELECT cluster_rep, COUNT(*) AS n_members FROM withc GROUP BY 1)
         |SELECT p.cluster_rep, p.keep_id, p.keep_score, c.n_members
         |FROM picked p JOIN cnt c USING (cluster_rep)
         |WHERE p.rn = 1 ORDER BY cluster_rep""".stripMargin
    },

    "d10_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${OracleSql.h64("'graft-sample-' || CAST(doc_id AS VARCHAR)")} % 100
         |  < CASE WHEN lang = 'en' THEN 20 WHEN lang = 'de' THEN 10 ELSE 5 END
         |ORDER BY doc_id""".stripMargin,

    "d49_weighted_sample" -> {
      val q = OracleSql.qualityScore("text")
      s"""SELECT doc_id, $q AS w FROM documents
         |WHERE ${OracleSql.h64("'graft-wsample-' || CAST(doc_id AS VARCHAR)")}
         |        % 1000000
         |      < CAST(ROUND(($q) * 1000000.0) AS BIGINT)
         |ORDER BY doc_id""".stripMargin
    },

    // same single-space tokenization (Spark split-on-' ' == DuckDB
    // str_split) and pure integer rule bounds
    "d50_gopher_rules" -> {
      val stop = Seq("the", "a", "and", "of", "to").map(w =>
        s"CASE WHEN list_contains(str_split(text, ' '), '$w') THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH g AS (
         |  SELECT doc_id,
         |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters,
         |    CAST($stop AS INT) AS n_stopwords
         |  FROM documents)
         |SELECT doc_id, n_words, n_letters, n_stopwords,
         |  n_words >= 40 AND n_words <= 100000 AS r_wordcount,
         |  n_letters >= 4 * n_words AND n_letters <= 10 * n_words AS r_meanlen,
         |  n_stopwords >= 2 AS r_stopwords,
         |  (n_words >= 40 AND n_words <= 100000)
         |    AND (n_letters >= 4 * n_words AND n_letters <= 10 * n_words)
         |    AND n_stopwords >= 2 AS keep
         |FROM g ORDER BY doc_id""".stripMargin
    },

    "d11_vocab" -> {
      val toks = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      s"""WITH tok AS (
         |  SELECT doc_id AS doc, unnest($toks) AS token FROM documents),
         |perdoc AS (
         |  SELECT doc, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |vocab AS (
         |  SELECT token, CAST(SUM(tf) AS BIGINT) AS n_occurrences,
         |         COUNT(*) AS n_docs
         |  FROM perdoc GROUP BY 1)
         |SELECT token, n_occurrences, n_docs FROM vocab
         |ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin
    },

    "d44_frequent_ngrams" ->
      s"""WITH sh AS (
         |  SELECT doc_id AS doc, unnest(${OracleSql.shingles("text", 3)}) AS ngram
         |  FROM documents),
         |perdoc AS (SELECT doc, ngram, COUNT(*) AS tf FROM sh GROUP BY 1, 2)
         |SELECT ngram, CAST(SUM(tf) AS BIGINT) AS n_occurrences,
         |       COUNT(*) AS n_docs
         |FROM perdoc GROUP BY 1 HAVING COUNT(*) >= 3
         |ORDER BY ngram""".stripMargin,

    // mirrors Urls.canonicalizeUrl step by step; RE2 backrefs are \1
    // (vs Java's $1) and DuckDB's regexp_replace is first-match-only by
    // default, which suffices because every pattern is anchored or can
    // match at most once
    "d45_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE doc_id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://'
        |          ELSE 'HTTP://' END) ||
        |    (CASE doc_id % 4 WHEN 0 THEN 'example.com' WHEN 1 THEN 'WWW.Example.com'
        |          WHEN 2 THEN 'Example.COM' ELSE 'www.example.com' END) ||
        |    (CASE WHEN doc_id % 6 = 0 THEN ':80' ELSE '' END) ||
        |    '/Articles/' || CAST(doc_id % 97 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
        |          ELSE '?a=1&b=2' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '#section3' ELSE '' END) AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(trim(url), '#.*', '') AS nofrag FROM u),
        |s2 AS (
        |  SELECT doc_id,
        |    regexp_replace(nofrag, '\?.*', '') AS path0,
        |    CASE WHEN strpos(nofrag, '?') > 0
        |         THEN substr(nofrag, strpos(nofrag, '?') + 1) ELSE '' END AS qs
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id, qs,
        |    regexp_extract(path0, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*') AS auth0,
        |    substr(path0, len(regexp_extract(path0, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*')) + 1) AS rest
        |  FROM s2),
        |s4 AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(lower(auth0), '^(https?://)www\.', '\1'),
        |        '^(http://[^:/]+):80$', '\1'),
        |      '^(https://[^:/]+):443$', '\1') AS auth,
        |    regexp_replace(rest, '/+$', '') AS p,
        |    array_to_string(list_sort(list_filter(string_split(qs, '&'),
        |      t -> t <> '' AND NOT regexp_matches(t,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&') AS q2
        |  FROM s3),
        |c AS (
        |  SELECT doc_id,
        |    auth || p || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END) AS canonical_url
        |  FROM s4)
        |SELECT canonical_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "m1_media_features" ->
      """WITH xs AS (SELECT x FROM range(0, 64) t(x)),
        |ys AS (SELECT y FROM range(0, 48) t(y)),
        |ss AS (SELECT i FROM range(0, 808) t(i)),
        |img AS (
        |  SELECT doc_id,
        |    CAST(SUM((x * 7 + y * 13 + doc_id * 31) % 256) AS DOUBLE)
        |      / ((doc_id % 64 + 1) * (doc_id % 48 + 1)) AS mean_val
        |  FROM documents, xs, ys
        |  WHERE doc_id % 3 = 0 AND x < doc_id % 64 + 1 AND y < doc_id % 48 + 1
        |  GROUP BY doc_id),
        |wav AS (
        |  SELECT doc_id,
        |    CAST(SUM((doc_id * 31 + i * 17) % 65536 - 32768) AS DOUBLE)
        |      / (doc_id % 800 + 8) AS mean_val
        |  FROM documents, ss
        |  WHERE doc_id % 3 = 2 AND i < doc_id % 800 + 8
        |  GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE d.doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |  CASE WHEN d.doc_id % 3 = 2 THEN 0 ELSE CAST(d.doc_id % 64 + 1 AS INT) END AS width,
        |  CASE WHEN d.doc_id % 3 = 2 THEN 0 ELSE CAST(d.doc_id % 48 + 1 AS INT) END AS height,
        |  CAST(CASE WHEN d.doc_id % 3 = 2
        |            THEN (d.doc_id % 800 + 8) * 1000 // 8000 ELSE 0 END AS BIGINT)
        |    AS duration_ms,
        |  COALESCE(img.mean_val, wav.mean_val) AS mean_val
        |FROM documents d
        |LEFT JOIN img ON img.doc_id = d.doc_id
        |LEFT JOIN wav ON wav.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    "m2_media_resample" ->
      """WITH xs AS (SELECT x FROM range(0, 8) t(x)),
        |ys AS (SELECT y FROM range(0, 8) t(y)),
        |ss AS (SELECT i FROM range(0, 808) t(i)),
        |img AS (
        |  SELECT doc_id,
        |    CAST(SUM((((x * (doc_id % 64 + 1)) // 8) * 7
        |             + ((y * (doc_id % 48 + 1)) // 8) * 13
        |             + doc_id * 31) % 256) AS DOUBLE) / 64.0 AS mean_val
        |  FROM documents, xs, ys WHERE doc_id % 3 = 0
        |  GROUP BY doc_id),
        |wav AS (
        |  SELECT doc_id,
        |    CAST(SUM((doc_id * 31 + i * 17) % 65536 - 32768) AS DOUBLE)
        |      / COUNT(*) AS mean_val
        |  FROM documents, ss
        |  WHERE doc_id % 3 = 2 AND i < doc_id % 800 + 8 AND i % 4 = 0
        |  GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE d.doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |  CAST(CASE WHEN d.doc_id % 3 = 2 THEN 0 ELSE 8 END AS INT) AS width,
        |  CAST(CASE WHEN d.doc_id % 3 = 2 THEN 0 ELSE 8 END AS INT) AS height,
        |  CAST(CASE WHEN d.doc_id % 3 = 2
        |            THEN (d.doc_id % 800 + 8) * 1000 // 8000 ELSE 0 END AS BIGINT)
        |    AS duration_ms,
        |  COALESCE(img.mean_val, wav.mean_val) AS mean_val
        |FROM documents d
        |LEFT JOIN img ON img.doc_id = d.doc_id
        |LEFT JOIN wav ON wav.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    "e3_ann_ivf" -> {
      val nlist = 8; val nprobe = 4; val k = 10
      s"""WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |           FROM embeddings WHERE vec_id < $nlist),
         |v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 1),
         |assigned AS (
         |  SELECT id, v, cid AS cell FROM (
         |    SELECT id, v, cid,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY cs DESC, cid) AS rn
         |    FROM (SELECT id, v, cid, ${OracleSql.cosine("v", "cv")} AS cs
         |          FROM v CROSS JOIN c)) WHERE rn = 1),
         |probes AS (
         |  SELECT cid FROM (SELECT cid, ${OracleSql.cosine("q", "cv")} AS cs
         |                   FROM c CROSS JOIN q)
         |  ORDER BY cs DESC, cid LIMIT $nprobe)
         |SELECT id, ${OracleSql.cosine("v", "q")} AS cos
         |FROM assigned, q WHERE cell IN (SELECT cid FROM probes)
         |ORDER BY cos DESC, id LIMIT $k""".stripMargin
    },

    "e1_cos_topk" -> {
      val cos = OracleSql.cosine("v", "q")
      s"""SELECT vec_id AS id, $cos AS cos
         |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |     (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)
         |ORDER BY cos DESC, id LIMIT 20""".stripMargin
    },

    "e2_cos_dedup" -> {
      val cos = OracleSql.cosine("a.v", "b.v")
      s"""WITH v AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |pairs AS (
         |  SELECT a.label AS block, a.vec_id AS id1, b.vec_id AS id2, $cos AS cos
         |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT block, id1, id2, cos FROM (
         |  SELECT block, id1, id2, cos,
         |    ROW_NUMBER() OVER (PARTITION BY block
         |                       ORDER BY cos DESC, id1, id2) AS rk
         |  FROM pairs) WHERE rk <= 3
         |ORDER BY block, id1, id2""".stripMargin
    },

    "e15_rerank_topk" -> {
      val coarse = OracleSql.dot("(v.v)[1:16]", "(q.qv)[1:16]")
      val cos = OracleSql.cosine("v.v", "q.qv")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |      FROM embeddings WHERE vec_id < 5),
         |coarse AS (
         |  SELECT q.qid, v.vec_id AS id, $coarse AS score FROM v, q),
         |cand AS (
         |  SELECT qid, id FROM (
         |    SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
         |                      ORDER BY score DESC, id DESC) AS rk
         |    FROM coarse) WHERE rk <= 20),
         |fine AS (
         |  SELECT c.qid, c.id, $cos AS cos
         |  FROM cand c
         |  JOIN (SELECT vec_id, v FROM v) v ON v.vec_id = c.id
         |  JOIN q ON q.qid = c.qid)
         |SELECT qid, CAST(rk AS BIGINT) AS rank, cos, id FROM (
         |  SELECT qid, id, cos, ROW_NUMBER() OVER (PARTITION BY qid
         |                        ORDER BY cos DESC, id DESC) AS rk
         |  FROM fine) WHERE rk <= 5
         |ORDER BY qid, rank""".stripMargin
    },

    "e17_hybrid_rrf" -> {
      val cos = OracleSql.cosine("d.v", "q.qv")
      s"""WITH tok AS (
         |  SELECT doc_id AS id, list_distinct(${OracleSql.toks("text")}) AS ts
         |  FROM documents),
         |lexs AS (
         |  SELECT q.id AS qid, d.id,
         |    CAST(len(list_intersect(d.ts, q.ts)) AS DOUBLE) /
         |    CAST(len(list_distinct(d.ts || q.ts)) AS DOUBLE) AS score
         |  FROM tok d JOIN tok q ON q.id < 5 AND d.id <> q.id),
         |lexr AS (
         |  SELECT qid, id, rk FROM (
         |    SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY score DESC, id DESC) AS rk
         |    FROM lexs WHERE score > 0) WHERE rk <= 20),
         |v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sems AS (
         |  SELECT q.id AS qid, d.id, $cos AS score
         |  FROM v d JOIN (SELECT id, v AS qv FROM v WHERE id < 5) q
         |  ON d.id <> q.id),
         |semr AS (
         |  SELECT qid, id, rk FROM (
         |    SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY score DESC, id DESC) AS rk
         |    FROM sems) WHERE rk <= 20),
         |u AS (
         |  SELECT qid, id, 1000000000000 // (60 + rk) AS c FROM lexr
         |  UNION ALL
         |  SELECT qid, id, 1000000000000 // (60 + rk) FROM semr),
         |f AS (SELECT qid, id, CAST(SUM(c) AS BIGINT) AS rrf_score
         |      FROM u GROUP BY 1, 2)
         |SELECT qid, CAST(rk AS BIGINT) AS rank, id, rrf_score FROM (
         |  SELECT qid, id, rrf_score, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY rrf_score DESC, id DESC) AS rk
         |  FROM f) WHERE rk <= 10
         |ORDER BY qid, rank""".stripMargin
    },

    "d18_winnow" ->
      s"""SELECT doc_id, fp FROM (
         |${OracleSql.winnow(
              "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0", 5, 4)})
         |ORDER BY doc_id, fp""".stripMargin,

    "d19_jaccard_block" -> {
      // hash-set jaccard — mirrors the engine's integer-set compare
      val jac = OracleSql.hashJaccard("a.text", "b.text", 3)
      s"""WITH aug AS (
         |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, lang, text || ' zzz suffix' AS text
         |  FROM documents WHERE doc_id % 50 = 0)
         |SELECT block, id1, id2, jaccard FROM (
         |  SELECT a.lang AS block, a.doc_id AS id1, b.doc_id AS id2,
         |         $jac AS jaccard
         |  FROM aug a JOIN aug b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.5
         |ORDER BY block, id1, id2""".stripMargin
    },

    "d20_bm25" -> {
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      val k1 = 1.2; val b = 0.75
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |tok AS (SELECT doc_id AS doc, unnest($tk) AS token FROM d),
         |perdoc AS (SELECT doc, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |docfreq AS (SELECT token, COUNT(*) AS df FROM perdoc GROUP BY 1),
         |doclen AS (SELECT doc, SUM(tf) AS dl FROM perdoc GROUP BY 1),
         |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM d),
         |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
         |       FROM doclen)
         |SELECT doc, token, tf, df,
         |  ((nd - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
         |  * (CAST(tf AS DOUBLE) * ${k1 + 1.0}
         |     / (CAST(tf AS DOUBLE) + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE) / avgdl)))
         |  AS bm25
         |FROM perdoc JOIN docfreq USING (token) JOIN doclen USING (doc), n, ad
         |ORDER BY doc, token""".stripMargin
    },

    "q37_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS tss
        |           FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, event_type, tss,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY tss, event_id) AS prev
        |  FROM e),
        |changed AS (
        |  SELECT user_id, event_id, event_type, tss FROM flagged
        |  WHERE prev IS NULL OR event_type <> prev),
        |v AS (
        |  SELECT user_id, event_id, event_type, tss AS valid_from,
        |    LEAD(tss) OVER (PARTITION BY user_id
        |                    ORDER BY tss, event_id) AS valid_to
        |  FROM changed)
        |SELECT user_id, event_id, event_type, valid_from, valid_to,
        |       (valid_to IS NULL) AS is_current
        |FROM v ORDER BY user_id, valid_from, event_id""".stripMargin,

    "q38_interval_overlap" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS tss
        |           FROM events),
        |p AS (SELECT user_id, event_id AS p_id, tss AS p_start,
        |             tss + 1800 AS p_end
        |      FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS v_id, tss AS v_start,
        |             tss + 900 AS v_end
        |      FROM e WHERE event_type = 'view')
        |SELECT p.user_id, p_id, v_id, p_start, v_start
        |FROM p JOIN v ON p.user_id = v.user_id
        |             AND p_start <= v_end AND v_start <= p_end
        |ORDER BY p.user_id, p_id, v_id""".stripMargin,

    "s6_stream_static" ->
      """SELECT n_name, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total
        |FROM events JOIN nation ON n_nationkey = user_id % 25
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "e4_hyperplane" -> {
      // the identical md5-derived plane values, embedded as literals;
      // non-overlapping power-of-two terms make + equal the bitwise OR
      val bits = ops.Similarity.planes(12, 64).zipWithIndex.map { case (p, i) =>
        val planeLit = p.mkString("[", ", ", "]")
        s"(CASE WHEN ${OracleSql.dot("v", planeLit)} >= 0.0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("\n  + ")
      s"""SELECT id, CAST($bits AS BIGINT) AS bucket
         |FROM (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings)
         |ORDER BY id""".stripMargin
    },

    "q39_two_phase_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "s7_stream_sink" ->
      """SELECT user_id % 100 AS cohort, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "e5_quantize" ->
      """SELECT id, i AS pos,
        |  CASE WHEN s = 0.0 THEN 0
        |       ELSE CAST(round(v[i+1] / s * 127.0) AS INT) END AS qv,
        |  s AS scale
        |FROM (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
        |             list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
        |                                           x -> abs(x)), 'max') AS s
        |      FROM embeddings),
        |     range(0, 10000) t(i)
        |WHERE i < len(v)
        |ORDER BY id, pos""".stripMargin,

    "d21_bigram_lm" -> {
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |toks AS (SELECT $tk AS tk FROM d),
         |big0 AS (
         |  SELECT unnest(list_transform(range(0, len(tk) - 1),
         |           i -> tk[i+1] || ' ' || tk[i+2])) AS bigram
         |  FROM toks WHERE len(tk) >= 2),
         |big AS (SELECT bigram, COUNT(*) AS c12 FROM big0 GROUP BY 1),
         |pre AS (SELECT split_part(bigram, ' ', 1) AS w1,
         |               CAST(SUM(c12) AS BIGINT) AS c1
         |        FROM big GROUP BY 1)
         |SELECT pre.w1, split_part(bigram, ' ', 2) AS w2, c12, c1,
         |       CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
         |FROM big JOIN pre ON split_part(bigram, ' ', 1) = pre.w1
         |ORDER BY w1, w2""".stripMargin
    },

    "d22_contamination" -> {
      val evalSql =
        """SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 2 = 0 AND doc_id % 100 = 0""".stripMargin
      val trainSql = "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0"
      s"""WITH efps AS (${OracleSql.winnow(evalSql, 5, 4)}),
         |tfps AS (SELECT DISTINCT fp FROM (${OracleSql.winnow(trainSql, 5, 4)})),
         |agg AS (
         |  SELECT e.doc_id, COUNT(*) AS n_fps,
         |    CAST(SUM(CASE WHEN t.fp IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_hits
         |  FROM efps e LEFT JOIN tfps t ON e.fp = t.fp
         |  GROUP BY 1)
         |SELECT doc_id, n_fps, n_hits,
         |  CAST(n_hits AS DOUBLE) / CAST(n_fps AS DOUBLE) AS contamination
         |FROM agg ORDER BY doc_id""".stripMargin
    },

    "q42_quality_checks" ->
      """WITH m AS (SELECT
        |  CAST(SUM(CASE WHEN o_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS orderkey_not_null,
        |  CAST(SUM(CASE WHEN o_totalprice > 0.0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS price_positive,
        |  CAST(SUM(CASE WHEN o_totalprice <= 300000.0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS price_under_cap,
        |  CAST(SUM(CASE WHEN o_orderkey % 7 <> 0 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS key_not_div7,
        |  COUNT(*) AS n_rows FROM orders)
        |SELECT rule, n_violations, n_rows, n_violations = 0 AS passed FROM (
        |  SELECT 'orderkey_not_null' AS rule, orderkey_not_null AS n_violations,
        |         n_rows FROM m
        |  UNION ALL SELECT 'price_positive', price_positive, n_rows FROM m
        |  UNION ALL SELECT 'price_under_cap', price_under_cap, n_rows FROM m
        |  UNION ALL SELECT 'key_not_div7', key_not_div7, n_rows FROM m)
        |ORDER BY rule""".stripMargin,

    "e6_embedding_lsh" ->
      s"""WITH ${OracleSql.embeddingLshCtes(bits = 6, dim = 64, tau = 0.2, maxBucket = 1000)}
         |SELECT id1, id2, cos FROM epairs
         |ORDER BY id1, id2""".stripMargin,

    "e11_semantic_dedup" ->
      s"""WITH RECURSIVE ${OracleSql.embeddingLshCtes(bits = 6, dim = 64, tau = 0.2, maxBucket = 1000)},
         |edges AS (
         |  SELECT id1 AS a, id2 AS b FROM epairs
         |  UNION
         |  SELECT id2, id1 FROM epairs),
         |reach(node, lab) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
         |clusters AS (SELECT node, MIN(lab) AS rep FROM reach GROUP BY node)
         |SELECT id AS vec_id FROM v0
         |WHERE id NOT IN (SELECT node FROM clusters WHERE node <> rep)
         |ORDER BY vec_id""".stripMargin,

    "q40_incremental_agg" ->
      """WITH final AS (
        |  SELECT o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey % 97 = 0)
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,

    "q41_change_feed" ->
      """WITH prev AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |nxt AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 5.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'N', 2.0
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |feed AS (
        |  SELECT COALESCE(n.o_orderkey, p.o_orderkey) AS o_orderkey,
        |    CASE WHEN p.o_orderkey IS NULL THEN 'I'
        |         WHEN n.o_orderkey IS NULL THEN 'D'
        |         WHEN p.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |           OR p.o_totalprice IS DISTINCT FROM n.o_totalprice
        |         THEN 'U' END AS op,
        |    COALESCE(n.o_orderstatus, p.o_orderstatus) AS o_orderstatus,
        |    COALESCE(n.o_totalprice, p.o_totalprice) AS o_totalprice
        |  FROM prev p FULL OUTER JOIN nxt n ON p.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey, op, o_orderstatus, o_totalprice FROM feed
        |WHERE op IS NOT NULL
        |ORDER BY o_orderkey, op""".stripMargin,

    // same codepoint-pinned suffixes as the Spark side (mode 0 combining,
    // mode 1 precomposed, mode 2 angstrom singleton + combining stack)
    "d23_normalize" ->
      s"""WITH dec AS (
        |  SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN '$normSfx0'
        |    WHEN 1 THEN '$normSfx1'
        |    WHEN 2 THEN '$normSfx2'
        |    ELSE '$normSfx3' END AS dec
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(dec) AS nfc, strip_accents(dec) AS stripped
        |FROM dec ORDER BY doc_id""".stripMargin,

    "g1_pagerank" ->
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_suppkey AS src, 1000000 + l_partkey AS dst FROM lineitem
        |      UNION SELECT DISTINCT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
        |pr(iter, node, pr_rank) AS (
        |  SELECT 0, src, CAST(1000000000 AS BIGINT) FROM (SELECT DISTINCT src FROM e)
        |  UNION ALL
        |  SELECT pr.iter + 1, ed.dst,
        |         CAST(150000000 + (85 * SUM(pr.pr_rank // ed.deg)) // 100 AS BIGINT)
        |  FROM pr JOIN ed ON pr.node = ed.src
        |  WHERE pr.iter < 5
        |  GROUP BY pr.iter, ed.dst)
        |SELECT node, CAST(pr_rank AS BIGINT) AS pr_rank FROM pr
        |WHERE iter = 5 ORDER BY node""".stripMargin,

    // g1's recursive CTE with a seed-gated restart term (node < 10^6
    // are suppliers; every node has in-edges on this symmetric graph,
    // so the per-round GROUP BY covers the full node set)
    "g6_personalized_pagerank" ->
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_suppkey AS src, 1000000 + l_partkey AS dst FROM lineitem
        |      UNION SELECT DISTINCT 1000000 + l_partkey AS src, l_suppkey AS dst FROM lineitem),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src)),
        |pr(iter, node, pr_rank) AS (
        |  SELECT 0, src,
        |    CAST(CASE WHEN src < 1000000 AND src % 10 = 0
        |              THEN 1000000000 ELSE 0 END AS BIGINT)
        |  FROM (SELECT DISTINCT src FROM e)
        |  UNION ALL
        |  SELECT pr.iter + 1, ed.dst,
        |    CAST(CASE WHEN ed.dst < 1000000 AND ed.dst % 10 = 0
        |              THEN 150000000 ELSE 0 END
        |         + (85 * SUM(pr.pr_rank // ed.deg)) // 100 AS BIGINT)
        |  FROM pr JOIN ed ON pr.node = ed.src
        |  WHERE pr.iter < 5
        |  GROUP BY pr.iter, ed.dst)
        |SELECT node, CAST(pr_rank AS BIGINT) AS pr_rank FROM pr
        |WHERE iter = 5 ORDER BY node""".stripMargin,

    // min-label reachability closure over the same chain graph — the
    // algorithm-independent definition of a component
    "g7_cc_twophase" ->
      """WITH RECURSIVE
        |base AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |edges0 AS (
        |  SELECT x.k AS a, y.k AS b FROM base x JOIN base y
        |    ON y.k = x.k + 3 AND x.k // 100 = y.k // 100
        |  UNION ALL
        |  SELECT x.k, y.k FROM base x JOIN base y
        |    ON y.k = x.k + 51 AND x.k // 100 = y.k // 100
        |  WHERE x.k % 7 = 0),
        |edges AS (
        |  SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
        |reach(node, lab) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        |  UNION
        |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b)
        |SELECT node, MIN(lab) AS component FROM reach
        |GROUP BY node ORDER BY node""".stripMargin,

    // two unrolled HITS rounds: each half-round is a neighbor-sum LEFT
    // JOIN against the node spine followed by a window-MAX integer
    // normalization — floor-div (//) equals Spark's div on the
    // non-negative scores
    "g8_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |         CAST(1000000 + l_partkey AS BIGINT) AS dst FROM lineitem),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |a0 AS (SELECT node, CAST(1000000 AS BIGINT) AS x FROM n),
        |h1r AS (SELECT n.node, COALESCE(s.x, 0) AS x FROM n LEFT JOIN
        |  (SELECT e.src AS node, CAST(SUM(a0.x) AS BIGINT) AS x FROM e
        |   JOIN a0 ON a0.node = e.dst GROUP BY e.src) s USING (node)),
        |h1 AS (SELECT node, CASE WHEN MAX(x) OVER () <= 0 THEN x
        |  ELSE (x * 1000000) // MAX(x) OVER () END AS x FROM h1r),
        |a1r AS (SELECT n.node, COALESCE(s.x, 0) AS x FROM n LEFT JOIN
        |  (SELECT e.dst AS node, CAST(SUM(h1.x) AS BIGINT) AS x FROM e
        |   JOIN h1 ON h1.node = e.src GROUP BY e.dst) s USING (node)),
        |a1 AS (SELECT node, CASE WHEN MAX(x) OVER () <= 0 THEN x
        |  ELSE (x * 1000000) // MAX(x) OVER () END AS x FROM a1r),
        |h2r AS (SELECT n.node, COALESCE(s.x, 0) AS x FROM n LEFT JOIN
        |  (SELECT e.src AS node, CAST(SUM(a1.x) AS BIGINT) AS x FROM e
        |   JOIN a1 ON a1.node = e.dst GROUP BY e.src) s USING (node)),
        |h2 AS (SELECT node, CASE WHEN MAX(x) OVER () <= 0 THEN x
        |  ELSE (x * 1000000) // MAX(x) OVER () END AS x FROM h2r),
        |a2r AS (SELECT n.node, COALESCE(s.x, 0) AS x FROM n LEFT JOIN
        |  (SELECT e.dst AS node, CAST(SUM(h2.x) AS BIGINT) AS x FROM e
        |   JOIN h2 ON h2.node = e.src GROUP BY e.dst) s USING (node)),
        |a2 AS (SELECT node, CASE WHEN MAX(x) OVER () <= 0 THEN x
        |  ELSE (x * 1000000) // MAX(x) OVER () END AS x FROM a2r)
        |SELECT n.node, CAST(h2.x AS BIGINT) AS hub, CAST(a2.x AS BIGINT) AS auth
        |FROM n JOIN h2 USING (node) JOIN a2 USING (node)
        |ORDER BY node""".stripMargin,

    // the degree cap is part of the operator contract, so the oracle
    // replays it: suppliers over 25 distinct parts contribute nothing
    "g9_coproject" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |         CAST(l_partkey AS BIGINT) AS dst
        |  FROM lineitem WHERE l_partkey % 20 = 0),
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |k AS (SELECT e.src, e.dst FROM e JOIN deg USING (src)
        |      WHERE deg.d <= 25)
        |SELECT a.dst AS part_a, b.dst AS part_b, COUNT(*) AS shared
        |FROM k a JOIN k b ON a.src = b.src AND a.dst < b.dst
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY part_a, part_b""".stripMargin,

    "q47_topk" ->
      """SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rank, o_totalprice, o_orderkey
        |FROM (SELECT o_orderpriority, o_totalprice, o_orderkey,
        |        ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY o_totalprice DESC, o_orderkey DESC) AS rnk
        |      FROM orders)
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,

    "q48_unpivot" ->
      """WITH m AS (
        |  SELECT o_orderpriority,
        |    CAST(COUNT(*) AS DOUBLE) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |    MIN(o_totalprice) AS min_price,
        |    MAX(o_totalprice) AS max_price
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, metric, value FROM (
        |  SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM m
        |  UNION ALL SELECT o_orderpriority, 'total', total FROM m
        |  UNION ALL SELECT o_orderpriority, 'min_price', min_price FROM m
        |  UNION ALL SELECT o_orderpriority, 'max_price', max_price FROM m)
        |ORDER BY o_orderpriority, metric""".stripMargin,

    // q49's cent-bin mapping, grouped; estimate = lower edge of the
    // first bin whose cumulative count reaches ceil(q*n) (integer
    // permille threshold — no double boundary)
    "q76_histogram_quantiles" ->
      """WITH cents AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |binned AS (
        |  SELECT grp, LEAST(23, GREATEST(0,
        |           CAST(((c - 90000) * 24) // (10500000 - 90000) AS INT))) AS bin
        |  FROM cents),
        |counts AS (SELECT grp, bin, COUNT(*) AS n FROM binned GROUP BY 1, 2),
        |cum AS (
        |  SELECT grp, bin,
        |    SUM(n) OVER (PARTITION BY grp ORDER BY bin
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(n) OVER (PARTITION BY grp) AS total
        |  FROM counts),
        |hits AS (
        |  SELECT grp, q, MIN(bin) AS bin
        |  FROM cum CROSS JOIN (SELECT unnest([500, 950]) AS q)
        |  WHERE cum >= (total * q + 999) // 1000
        |  GROUP BY 1, 2)
        |SELECT grp AS l_returnflag, CAST(q AS INT) AS q,
        |  CAST(90000 + (CAST(bin AS BIGINT) * (10500000 - 90000)) // 24
        |       AS DOUBLE) / 100 AS est
        |FROM hits ORDER BY l_returnflag, q""".stripMargin,

    "q49_histogram" ->
      """WITH cents AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |binned AS (
        |  SELECT LEAST(23, GREATEST(0,
        |           CAST(((c - 90000) * 24) // (10500000 - 90000) AS INT))) AS bin
        |  FROM cents),
        |counts AS (SELECT bin, COUNT(*) AS n FROM binned GROUP BY bin),
        |spine AS (SELECT CAST(i AS INT) AS bin FROM range(24) t(i))
        |SELECT s.bin, COALESCE(c.n, 0) AS n,
        |  CAST(90000 + (CAST(s.bin AS BIGINT) * (10500000 - 90000)) // 24 AS DOUBLE) / 100 AS bin_lo,
        |  CAST(90000 + (CAST(s.bin + 1 AS BIGINT) * (10500000 - 90000)) // 24 AS DOUBLE) / 100 AS bin_hi
        |FROM spine s LEFT JOIN counts c USING (bin)
        |ORDER BY s.bin""".stripMargin,

    // the plain join: equivalent by construction to the bloom-pruned plan
    "q50_bloom_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 19 = 0 AND o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q51_cohort" ->
      """WITH e AS (
        |  SELECT user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week
        |  FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort FROM e GROUP BY user_id)
        |SELECT c.cohort, e.week - c.cohort AS week_offset,
        |       COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY c.cohort, week_offset
        |ORDER BY cohort, week_offset""".stripMargin,

    "q52_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g1,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g2,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g1, g2, l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin,

    "q53_linkage" ->
      """SELECT p1.p_partkey AS key1, p2.p_partkey AS key2,
        |       jaro_winkler_similarity(p1.p_name, p2.p_name) AS sim
        |FROM part p1 JOIN part p2
        |  ON p1.p_brand = p2.p_brand AND p1.p_size = p2.p_size
        | AND p1.p_partkey < p2.p_partkey
        |WHERE jaro_winkler_similarity(p1.p_name, p2.p_name) >= 0.93
        |ORDER BY key1, key2""".stripMargin,

    "e7_knn_join" ->
      s"""WITH ${OracleSql.ivfKnnCtes(nlist = 8, nprobe = 2, k = 5)}
         |SELECT id, rank, nid, cos FROM knn
         |ORDER BY id, rank""".stripMargin,

    // the batch-rebuild replay IS the oracle: incremental add must
    // produce the identical index, so the full-corpus CTEs apply
    "e14_ivf_incremental" ->
      s"""WITH ${OracleSql.ivfKnnCtes(nlist = 8, nprobe = 3, k = 3)}
         |SELECT id, rank, nid, cos FROM knn
         |ORDER BY id, rank""".stripMargin,

    "e13_knn_classify" ->
      s"""WITH ${OracleSql.ivfKnnCtes(nlist = 8, nprobe = 2, k = 5)},
         |votes AS (
         |  SELECT k.id, e.label AS nlabel, COUNT(*) AS votes
         |  FROM knn k JOIN embeddings e ON e.vec_id = k.nid
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT id, nlabel AS pred_label FROM (
         |    SELECT id, nlabel,
         |      ROW_NUMBER() OVER (PARTITION BY id
         |        ORDER BY votes DESC, nlabel) AS rn
         |    FROM votes) WHERE rn = 1)
         |SELECT e.label AS true_label, p.pred_label, COUNT(*) AS n
         |FROM pred p JOIN embeddings e ON e.vec_id = p.id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // property oracle: the booleans hold by construction (recall floors
    // with wide margin); n_queries derives from the data, not a constant
    "e12_ivf_kmeans_recall" ->
      """SELECT COUNT(*) AS n_queries,
        |  true AS partial_probe_recall_ok, true AS full_probe_exact_ok
        |FROM embeddings WHERE vec_id < 40""".stripMargin,

    "e10_ann_recall" ->
      s"""WITH ${OracleSql.ivfKnnCtes(nlist = 8, nprobe = 2, k = 5)},
         |approx AS (SELECT id, nid FROM knn WHERE id < 50),
         |bf AS (
         |  SELECT id, nid FROM (
         |    SELECT q.id, a.id AS nid,
         |      ROW_NUMBER() OVER (PARTITION BY q.id
         |        ORDER BY ${OracleSql.cosine("q.v", "a.v")} DESC, a.id) AS rn
         |    FROM v q JOIN v a ON a.id <> q.id
         |    WHERE q.id < 50) WHERE rn <= 5),
         |matched AS (
         |  SELECT approx.id, COUNT(*) AS n_match
         |  FROM approx JOIN bf ON approx.id = bf.id AND approx.nid = bf.nid
         |  GROUP BY approx.id)
         |SELECT q.id, COALESCE(m.n_match, 0) AS n_match,
         |  CAST(COALESCE(m.n_match, 0) AS DOUBLE) / 5.0 AS recall
         |FROM (SELECT DISTINCT id FROM v WHERE id < 50) q
         |LEFT JOIN matched m ON q.id = m.id
         |ORDER BY q.id""".stripMargin,

    "d24_pack" -> {
      val ntok = s"CASE WHEN length(trim(text)) = 0 THEN 0 " +
        s"ELSE len(${OracleSql.toks("text")}) END"
      s"""WITH t AS (SELECT lang, doc_id, $ntok AS ntok FROM documents),
         |c AS (
         |  SELECT lang, doc_id, ntok,
         |    CAST(SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t)
         |SELECT lang, (cum - ntok) // 512 AS seq_id, COUNT(*) AS n_docs,
         |  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin
    },

    "d25_repetition" -> {
      s"""WITH bg AS (SELECT doc_id, unnest(${OracleSql.shingles("text", 2)}) AS g
         |            FROM documents),
         |bc AS (SELECT doc_id, g, COUNT(*) AS tf FROM bg GROUP BY 1, 2),
         |b AS (SELECT doc_id, MAX(tf) AS mx, CAST(SUM(tf) AS BIGINT) AS tot
         |      FROM bc GROUP BY 1),
         |tg AS (SELECT doc_id, unnest(${OracleSql.shingles("text", 3)}) AS g
         |       FROM documents),
         |tc AS (SELECT doc_id, g, COUNT(*) AS tf FROM tg GROUP BY 1, 2),
         |t3 AS (SELECT doc_id,
         |         CAST(SUM(CASE WHEN tf >= 2 THEN tf ELSE 0 END) AS BIGINT) AS dup,
         |         CAST(SUM(tf) AS BIGINT) AS tot
         |       FROM tc GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN COALESCE(b.tot, 0) = 0 THEN 0.0
         |       ELSE CAST(b.mx AS DOUBLE) / CAST(b.tot AS DOUBLE) END
         |    AS top_bigram_frac,
         |  CASE WHEN COALESCE(t3.tot, 0) = 0 THEN 0.0
         |       ELSE CAST(t3.dup AS DOUBLE) / CAST(t3.tot AS DOUBLE) END
         |    AS dup_trigram_frac
         |FROM documents d
         |LEFT JOIN b ON b.doc_id = d.doc_id
         |LEFT JOIN t3 ON t3.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    "d26_lm_score" -> {
      val toks = OracleSql.toks("text")
      s"""WITH bg AS (
         |  SELECT doc_id AS doc, unnest(${OracleSql.shingles("text", 2)}) AS bigram
         |  FROM documents WHERE len($toks) >= 2),
         |c12 AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY 1),
         |c1 AS (SELECT split_part(bigram, ' ', 1) AS w1,
         |         CAST(SUM(c12) AS BIGINT) AS c1
         |       FROM c12 GROUP BY 1),
         |lm AS (SELECT bigram, (c12 * 1000000000) // c1.c1 AS p_scaled
         |       FROM c12 JOIN c1 ON split_part(c12.bigram, ' ', 1) = c1.w1)
         |SELECT doc, COUNT(*) AS n_bigrams, CAST(SUM(p_scaled) AS BIGINT) AS score,
         |  CAST(SUM(p_scaled) AS BIGINT) // COUNT(*) AS mean_p
         |FROM bg JOIN lm USING (bigram)
         |GROUP BY doc ORDER BY doc""".stripMargin
    },

    "e8_pq" -> OracleSql.pqEncodeSql(m = 8, k = 8, sub = 8),

    // the disk round trip must be invisible to the oracle: e29 replays
    // the identical encode query against the LOADED codebook's output
    "e29_pq_persisted" -> OracleSql.pqEncodeSql(m = 8, k = 8, sub = 8),

    // likewise e28: save→load must reproduce e7's knnJoin bit-exactly
    "e28_ivf_persisted" ->
      s"""WITH ${OracleSql.ivfKnnCtes(nlist = 8, nprobe = 2, k = 5)}
         |SELECT id, rank, nid, cos FROM knn
         |ORDER BY id, rank""".stripMargin,

    // the e8 code CTEs plus a query-side LUT; the ADC sum replays
    // Spark's 0.0-seeded fixed-order fold via list_reduce over the
    // sub-space-ordered terms (double addition is not associative)
    "e18_pq_adc" -> {
      val m = 8; val k = 8; val sub = 8
      def dotE(a: String, b: String) = OracleSql.dot(a, b)
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |      FROM embeddings WHERE vec_id < $k),
         |subs AS (SELECT s FROM range(0, $m) t(s)),
         |sliced AS (
         |  SELECT v.id, subs.s, c.cid,
         |    (v.v)[subs.s * $sub + 1 : (subs.s + 1) * $sub] AS vs,
         |    (c.cv)[subs.s * $sub + 1 : (subs.s + 1) * $sub] AS cs
         |  FROM v CROSS JOIN subs CROSS JOIN c),
         |d AS (
         |  SELECT id, s, cid,
         |    ((${dotE("vs", "vs")} - 2.0 * ${dotE("vs", "cs")})
         |      + ${dotE("cs", "cs")}) AS dist
         |  FROM sliced),
         |codes AS (
         |  SELECT id, s, cid AS code FROM (
         |    SELECT id, s, cid,
         |      ROW_NUMBER() OVER (PARTITION BY id, s ORDER BY dist, cid) AS rn
         |    FROM d) WHERE rn = 1),
         |q AS (SELECT id AS qid, v AS qv FROM v WHERE id < 5),
         |qsliced AS (
         |  SELECT q.qid, subs.s, c.cid,
         |    (q.qv)[subs.s * $sub + 1 : (subs.s + 1) * $sub] AS qs,
         |    (c.cv)[subs.s * $sub + 1 : (subs.s + 1) * $sub] AS cs
         |  FROM q CROSS JOIN subs CROSS JOIN c),
         |lut AS (
         |  SELECT qid, s, cid AS code,
         |    ((${dotE("qs", "qs")} - 2.0 * ${dotE("qs", "cs")})
         |      + ${dotE("cs", "cs")}) AS qdist
         |  FROM qsliced),
         |scored AS (
         |  SELECT lut.qid, codes.id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list(lut.qdist ORDER BY lut.s)), (a, b) -> a + b) AS adc_dist
         |  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
         |  GROUP BY 1, 2)
         |SELECT qid, rank, id, adc_dist FROM (
         |  SELECT qid, id, adc_dist,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY adc_dist ASC, id DESC) AS rank
         |  FROM scored) WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin
    },

    // e5's quantization formula on both sides; integer code dot cast
    // to double once, rescaled in the same fixed order as Spark
    "e20_sq8_search" ->
      """WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |enc AS (
        |  SELECT id, s AS scale,
        |    CASE WHEN s = 0.0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v, x -> CAST(round(x / s * 127.0) AS INT))
        |    END AS q
        |  FROM (SELECT id, v,
        |          list_aggregate(list_transform(v, x -> abs(x)), 'max') AS s
        |        FROM v)),
        |qs AS (SELECT id AS qid, scale AS qscale, q AS qq FROM enc WHERE id < 5),
        |scored AS (
        |  SELECT qs.qid, enc.id,
        |    ((enc.scale * qs.qscale) *
        |     CAST(list_reduce(list_transform(range(1, len(enc.q) + 1),
        |            i -> CAST((enc.q)[i] AS BIGINT) * (qs.qq)[i]),
        |          (x, y) -> x + y) AS DOUBLE)) / 16129.0 AS score
        |  FROM enc CROSS JOIN qs)
        |SELECT qid, rank, id, score FROM (
        |  SELECT qid, id, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY score DESC, id DESC) AS rank
        |  FROM scored) WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // every greedy pick unrolled as its own CTE; rank order IS the
    // pick order
    "e22_mmr_rerank" ->
      s"""WITH ${OracleSql.mmrCtes(qid = 0L, fetch = 40, k = 5)}
         |SELECT CAST(rank AS INT) AS rank, id, rel, score FROM mmr
         |ORDER BY rank""".stripMargin,

    // e7's CTE chain with the candidate-side label predicate — the
    // pre-filter belongs inside cand, before ranking
    "e21_filtered_ann" ->
      s"""WITH ${OracleSql.ivfKnnCtes(nlist = 8, nprobe = 2, k = 5,
             candWhere = "el.label % 2 = 1")}
         |SELECT id, rank, nid, cos FROM knn
         |ORDER BY id, rank""".stripMargin,

    // e18's code/LUT chain restricted to e3's per-query probed cells
    "e19_ivf_pq" -> {
      val m = 8; val k = 8; val sub = 8; val nlist = 8; val nprobe = 4
      def dotE(a: String, b: String) = OracleSql.dot(a, b)
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |ivfc AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
         |         FROM embeddings WHERE vec_id < $nlist),
         |assigned AS (
         |  SELECT id, cell FROM (
         |    SELECT v.id, ivfc.cell,
         |      ROW_NUMBER() OVER (PARTITION BY v.id
         |        ORDER BY ${OracleSql.cosine("v.v", "ivfc.cv")} DESC, ivfc.cell) AS rn
         |    FROM v CROSS JOIN ivfc) WHERE rn = 1),
         |q AS (SELECT id AS qid, v AS qv FROM v WHERE id < 5),
         |probes AS (
         |  SELECT qid, cell FROM (
         |    SELECT q.qid, ivfc.cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid
         |        ORDER BY ${OracleSql.cosine("q.qv", "ivfc.cv")} DESC, ivfc.cell) AS rn
         |    FROM q CROSS JOIN ivfc) WHERE rn <= $nprobe),
         |cand AS (
         |  SELECT p.qid, a.id FROM probes p JOIN assigned a ON p.cell = a.cell),
         |c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |      FROM embeddings WHERE vec_id < $k),
         |subs AS (SELECT s FROM range(0, $m) t(s)),
         |sliced AS (
         |  SELECT v.id, subs.s, c.cid,
         |    (v.v)[subs.s * $sub + 1 : (subs.s + 1) * $sub] AS vs,
         |    (c.cv)[subs.s * $sub + 1 : (subs.s + 1) * $sub] AS cs
         |  FROM v CROSS JOIN subs CROSS JOIN c),
         |d AS (
         |  SELECT id, s, cid,
         |    ((${dotE("vs", "vs")} - 2.0 * ${dotE("vs", "cs")})
         |      + ${dotE("cs", "cs")}) AS dist
         |  FROM sliced),
         |codes AS (
         |  SELECT id, s, cid AS code FROM (
         |    SELECT id, s, cid,
         |      ROW_NUMBER() OVER (PARTITION BY id, s ORDER BY dist, cid) AS rn
         |    FROM d) WHERE rn = 1),
         |qsliced AS (
         |  SELECT q.qid, subs.s, c.cid,
         |    (q.qv)[subs.s * $sub + 1 : (subs.s + 1) * $sub] AS qs,
         |    (c.cv)[subs.s * $sub + 1 : (subs.s + 1) * $sub] AS cs
         |  FROM q CROSS JOIN subs CROSS JOIN c),
         |lut AS (
         |  SELECT qid, s, cid AS code,
         |    ((${dotE("qs", "qs")} - 2.0 * ${dotE("qs", "cs")})
         |      + ${dotE("cs", "cs")}) AS qdist
         |  FROM qsliced),
         |scored AS (
         |  SELECT cand.qid, cand.id,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list(lut.qdist ORDER BY lut.s)), (a, b) -> a + b) AS adc_dist
         |  FROM cand
         |  JOIN codes ON cand.id = codes.id
         |  JOIN lut ON lut.qid = cand.qid AND lut.s = codes.s
         |          AND lut.code = codes.code
         |  GROUP BY 1, 2)
         |SELECT qid, rank, id, adc_dist FROM (
         |  SELECT qid, id, adc_dist,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY adc_dist ASC, id DESC) AS rank
         |  FROM scored) WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin
    },

    "m3_video_frames" ->
      """WITH xs AS (SELECT x FROM range(0, 20) t(x)),
        |ys AS (SELECT y FROM range(0, 16) t(y)),
        |fs AS (SELECT f FROM range(0, 14) t(f))
        |SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
        |  CAST(doc_id % 16 + 4 AS INT) AS width,
        |  CAST(doc_id % 12 + 4 AS INT) AS height,
        |  CAST(SUM((x * 7 + y * 13 + doc_id * 31 + f * 19) % 256) AS DOUBLE)
        |    / ((doc_id % 16 + 4) * (doc_id % 12 + 4)) AS mean_val
        |FROM documents, fs, xs, ys
        |WHERE f < doc_id % 12 + 2 AND f % 3 = 0
        |  AND x < doc_id % 16 + 4 AND y < doc_id % 12 + 4
        |GROUP BY doc_id, f
        |ORDER BY media_id, frame_idx""".stripMargin,

    // PCM formula replay: sample i of wav id = ((id*31 + i*17) % 65536)
    // - 32768, n = id % 800 + 8 samples; block mean = integer sum / cnt
    "m11_audio_blocks" ->
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id % 800 + 8 AS n
        |  FROM documents WHERE doc_id % 3 = 2),
        |iz AS (SELECT i FROM range(0, 808) t(i)),
        |samples AS (
        |  SELECT id, CAST(i // 100 AS INT) AS block_idx,
        |         ((id * 31 + i * 17) % 65536) - 32768 AS s
        |  FROM ids, iz WHERE i < n)
        |SELECT id AS media_id, block_idx, CAST(COUNT(*) AS INT) AS n_samples,
        |  CAST(SUM(s) AS DOUBLE) / COUNT(*) AS mean_val
        |FROM samples GROUP BY 1, 2 ORDER BY media_id, block_idx""".stripMargin,

    // grayAt formula bucketed into the same 8×8 ceil-grid; integer
    // pixel sums, one IEEE division per patch
    "m12_patchify" ->
      """WITH xs AS (SELECT x FROM range(0, 64) t(x)),
        |ys AS (SELECT y FROM range(0, 48) t(y)),
        |px AS (
        |  SELECT doc_id, y // 8 AS py, x // 8 AS px,
        |         (x * 7 + y * 13 + doc_id * 31) % 256 AS g
        |  FROM documents, xs, ys
        |  WHERE doc_id % 3 = 0 AND x < doc_id % 64 + 1 AND y < doc_id % 48 + 1)
        |SELECT doc_id AS media_id, CAST(py AS INT) AS py, CAST(px AS INT) AS px,
        |  CAST(COUNT(*) AS INT) AS n_px,
        |  CAST(SUM(g) AS DOUBLE) / COUNT(*) AS mean_val
        |FROM px GROUP BY 1, 2, 3
        |ORDER BY media_id, py, px""".stripMargin,

    // closed-form replay of graySceneAt deltas: only scene boundaries
    // (f % 4 = 0, f > 0) can clear the threshold — in-scene frames are
    // bit-identical, so their mad is exactly 0
    "m10_scene_cuts" ->
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id % 16 + 4 AS w, doc_id % 12 + 4 AS h,
        |         doc_id % 10 + 6 AS frames
        |  FROM documents WHERE doc_id % 5 = 0),
        |fs AS (SELECT f FROM range(0, 16) t(f)),
        |xs AS (SELECT x FROM range(0, 20) t(x)),
        |ys AS (SELECT y FROM range(0, 16) t(y)),
        |bounds AS (
        |  SELECT id, w, h, f FROM ids, fs
        |  WHERE f < frames AND f > 0 AND f % 4 = 0),
        |mad AS (
        |  SELECT id, f, CAST(SUM(ABS(
        |      ((x * 7 + y * 13 + id * 31 + (f // 4) * 47) % 256) -
        |      ((x * 7 + y * 13 + id * 31 + (f // 4 - 1) * 47) % 256))) AS DOUBLE)
        |    / (w * h) AS mad
        |  FROM bounds, xs, ys WHERE x < w AND y < h
        |  GROUP BY id, f, w, h)
        |SELECT id AS media_id, CAST(f AS INT) AS frame_idx, mad
        |FROM mad WHERE mad >= 1.0 ORDER BY media_id, frame_idx""".stripMargin,

    "q54_cms" -> {
      val h = OracleSql.h64(
        "'graft-cms' || '-' || CAST(r AS VARCHAR) || '-' || CAST(key AS VARCHAR)")
      s"""WITH counts AS (
         |  SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY 1),
         |rows_ AS (SELECT r FROM range(0, 4) t(r)),
         |cells AS (
         |  SELECT r, $h % 256 AS bucket, CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM counts, rows_ GROUP BY 1, 2),
         |probe AS (
         |  SELECT key, r, $h % 256 AS bucket
         |  FROM (SELECT DISTINCT o_custkey AS key FROM orders
         |        WHERE o_custkey < 50), rows_)
         |SELECT p.key AS o_custkey,
         |  (SELECT COUNT(*) FROM orders WHERE o_custkey = p.key) AS true_n,
         |  MIN(c.cnt) AS est
         |FROM probe p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
         |GROUP BY p.key ORDER BY o_custkey""".stripMargin
    },

    "q55_hll" -> {
      val h = OracleSql.h64("'graft-hll' || '-' || CAST(l_partkey AS VARCHAR)")
      s"""WITH hs AS (SELECT $h AS h FROM lineitem),
         |rho AS (
         |  SELECT h % 1024 AS bucket, h // 1024 AS v FROM hs)
         |SELECT bucket,
         |  CAST(MAX(CASE WHEN v = 0 THEN 51
         |                ELSE 51 - length(bin(v)) END) AS INT) AS max_rho
         |FROM rho GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    // the streamed state must equal the whole-table grouped register
    // file (merge-by-max is batch-boundary-independent), so the oracle
    // computes the registers straight off the events table
    "s13_stream_hll" -> {
      val h = OracleSql.h64("'graft-hll' || '-' || CAST(user_id AS VARCHAR)")
      s"""WITH hs AS (SELECT event_type, $h AS h FROM events),
         |rho AS (
         |  SELECT event_type, h % 256 AS bucket, h // 256 AS v FROM hs)
         |SELECT event_type, bucket,
         |  CAST(MAX(CASE WHEN v = 0 THEN 53
         |                ELSE 53 - length(bin(v)) END) AS INT) AS max_rho
         |FROM rho GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin
    },

    // merged-from-overlapping-slices == whole-table registers (max is
    // idempotent), so the oracle computes the grouped file directly
    "q72_hll_grouped" -> {
      val h = OracleSql.h64("'graft-hll' || '-' || CAST(l_partkey AS VARCHAR)")
      s"""WITH hs AS (SELECT l_returnflag, $h AS h FROM lineitem),
         |rho AS (
         |  SELECT l_returnflag, h % 1024 AS bucket, h // 1024 AS v FROM hs)
         |SELECT l_returnflag, bucket,
         |  CAST(MAX(CASE WHEN v = 0 THEN 51
         |                ELSE 51 - length(bin(v)) END) AS INT) AS max_rho
         |FROM rho GROUP BY 1, 2 ORDER BY l_returnflag, bucket""".stripMargin
    },

    "d27_boilerplate" -> {
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |         THEN '$boilerplateHeader' || ' ' || text ELSE text END AS text
         |  FROM documents),
         |toks AS (SELECT doc_id, $tk AS tk FROM aug),
         |spans AS (
         |  SELECT doc_id,
         |    unnest(range(0, (greatest(len(tk), 1) - 1) // 8 + 1)) AS chunk_id,
         |    tk
         |  FROM toks),
         |sp AS (
         |  SELECT doc_id, chunk_id,
         |    array_to_string(tk[(chunk_id * 8 + 1):(chunk_id * 8 + 8)], ' ')
         |      AS chunk_text
         |  FROM spans),
         |fps AS (SELECT doc_id, chunk_id, chunk_text,
         |               ${OracleSql.h64("chunk_text")} AS fp FROM sp),
         |boiler AS (
         |  SELECT fp FROM (SELECT DISTINCT fp, doc_id FROM fps)
         |  GROUP BY fp HAVING COUNT(*) > 5),
         |kept AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |    array_to_string(list(chunk_text ORDER BY chunk_id), ' ')
         |      AS clean_text
         |  FROM fps WHERE fp NOT IN (SELECT fp FROM boiler)
         |  GROUP BY doc_id),
         |totals AS (SELECT doc_id, COUNT(*) AS n_spans FROM fps GROUP BY doc_id)
         |SELECT t.doc_id, t.n_spans,
         |  COALESCE(k.n_kept, 0) AS n_kept,
         |  COALESCE(k.clean_text, '') AS clean_text
         |FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
         |ORDER BY t.doc_id""".stripMargin
    },

    // replace chain generated from the SAME bpeGateMerges Seq the gate
    // uses; DuckDB replace() is left-to-right non-overlapping like
    // Spark's — the greedy merge order both the learner and the
    // reference algorithm specify
    "d41_bpe_encode" -> {
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      val chain = bpeGateMerges.foldLeft(
        "' ' || array_to_string(string_split(w, ''), ' ') || ' '") {
        case (acc, (l, r)) => s"replace($acc, ' $l $r ', ' $l$r ')"
      }
      s"""WITH toks AS (SELECT doc_id, $tk AS tk FROM documents),
         |enc AS (
         |  SELECT doc_id, tk,
         |    list_transform(tk, w ->
         |      CASE WHEN regexp_matches(w, '^[a-z]+${"$"}') AND len(w) <= 30
         |           THEN trim($chain) ELSE w END) AS ew
         |  FROM toks)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN len(ew) = 0 THEN 0
         |       ELSE list_reduce(list_transform(ew, e -> len(string_split(e, ' '))),
         |                        (a, b) -> a + b) END AS BIGINT) AS n_subwords,
         |  array_to_string(ew, ' | ') AS encoded
         |FROM enc ORDER BY doc_id""".stripMargin
    },

    // mirrors removeDuplicateSpans stage for stage: positional 6-gram
    // fingerprints (short docs hash one whole-text shingle — the
    // greatest(..,1) range), cross-doc census on DISTINCT (fp, doc),
    // coverage test per token position, rebuild in position order
    "d40_dup_spans" -> {
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN '$wireCopy' || ' ' || text
         |         WHEN doc_id % 7 = 3 THEN text || ' ' || '$wireCopy'
         |         ELSE text END AS text
         |  FROM documents),
         |toks AS (SELECT doc_id, $tk AS tk FROM aug),
         |fpp AS (
         |  SELECT doc_id, unnest(range(0, greatest(len(tk) - 5, 1))) AS pos, tk
         |  FROM toks),
         |fph AS (
         |  SELECT doc_id, pos,
         |    ${OracleSql.h64("array_to_string(tk[(pos+1):(pos+6)], ' ')")} AS f
         |  FROM fpp),
         |dup AS (
         |  SELECT f FROM (SELECT DISTINCT f, doc_id FROM fph)
         |  GROUP BY f HAVING COUNT(*) >= 2),
         |hits AS (SELECT doc_id, pos FROM fph WHERE f IN (SELECT f FROM dup)),
         |tpt AS (
         |  SELECT doc_id, unnest(range(0, len(tk))) AS j, tk
         |  FROM toks),
         |tpx AS (SELECT doc_id, j, tk[j+1] AS tok FROM tpt),
         |kept AS (
         |  SELECT t.doc_id, t.j, t.tok FROM tpx t
         |  WHERE NOT EXISTS (SELECT 1 FROM hits h
         |    WHERE h.doc_id = t.doc_id AND h.pos <= t.j AND t.j < h.pos + 6)),
         |outk AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |    array_to_string(list(tok ORDER BY j), ' ') AS clean_text
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
         |  COALESCE(k.clean_text, '') AS clean_text
         |FROM toks t LEFT JOIN outk k ON t.doc_id = k.doc_id
         |ORDER BY t.doc_id""".stripMargin
    },

    "d28_split" -> {
      val h = OracleSql.h64("'graft-split' || '-' || CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, lang,
         |  CAST($h % 100 AS BIGINT) AS bucket,
         |  CASE WHEN $h % 100 < 80 THEN 'train'
         |       WHEN $h % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "d29_temperature_mix" -> {
      val u = "CAST(('0x' || substr(md5('graft-mix' || '-' || " +
        "CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)"
      s"""WITH d AS (SELECT doc_id, lang FROM documents),
         |stats AS (SELECT lang AS domain, COUNT(*) AS n FROM d GROUP BY 1),
         |tot AS (
         |  SELECT SUM(n) AS n_total,
         |    list_reduce(list(sqrt(CAST(n AS DOUBLE)) ORDER BY domain),
         |                (a, b) -> a + b) AS sqrt_sum
         |  FROM stats),
         |fr AS (
         |  SELECT domain,
         |    least(1.0, (0.5 * CAST(n_total AS DOUBLE)) *
         |      (sqrt(CAST(n AS DOUBLE)) / sqrt_sum) / CAST(n AS DOUBLE))
         |      AS keep_frac
         |  FROM stats, tot)
         |SELECT doc_id, lang, keep_frac
         |FROM d JOIN fr ON d.lang = fr.domain
         |WHERE $u < keep_frac * 4503599627370496.0
         |ORDER BY doc_id""".stripMargin
    },

    "g2_triangles" ->
      """WITH pt AS (
        |  SELECT DISTINCT l_orderkey AS o, CAST(l_partkey AS BIGINT) AS p
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |pairs AS (
        |  SELECT x.p AS p1, y.p AS p2
        |  FROM pt x JOIN pt y ON x.o = y.o AND x.p < y.p),
        |e AS (
        |  SELECT DISTINCT least(p1, p2) AS a, greatest(p1, p2) AS b
        |  FROM pairs WHERE p1 <> p2),
        |deg AS (
        |  SELECT v, COUNT(*) AS d FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
        |o AS (
        |  SELECT
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b END AS u,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a END AS v,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN db.d ELSE da.d END AS dv
        |  FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
        |w AS (
        |  SELECT o1.u, o1.v AS v1, o2.v AS v2
        |  FROM o o1 JOIN o o2 ON o1.u = o2.u
        |  WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
        |SELECT w.u AS node, COUNT(*) AS n_triangles
        |FROM w JOIN o ON w.v1 = o.u AND w.v2 = o.v
        |GROUP BY 1 ORDER BY node""".stripMargin,

    "g3_shortest_paths" ->
      """WITH RECURSIVE
        |raw AS (
        |  SELECT CAST(l_suppkey AS BIGINT) AS src,
        |         1000000 + CAST(l_partkey AS BIGINT) AS dst,
        |         CAST(l_quantity AS BIGINT) % 7 + 1 AS w
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 1000000 + CAST(l_partkey AS BIGINT),
        |         CAST(l_suppkey AS BIGINT),
        |         CAST(l_quantity AS BIGINT) % 7 + 1
        |  FROM lineitem),
        |e AS (SELECT src, dst, MIN(w) AS w FROM raw GROUP BY src, dst),
        |nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
        |e2 AS (SELECT * FROM e
        |       UNION ALL SELECT n, n, CAST(0 AS BIGINT) FROM nodes),
        |d(iter, node, dist) AS (
        |  SELECT 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT d.iter + 1, e2.dst, MIN(d.dist + e2.w)
        |  FROM d JOIN e2 ON d.node = e2.src
        |  WHERE d.iter < 6
        |  GROUP BY d.iter, e2.dst)
        |SELECT node, dist FROM d WHERE iter = 6 ORDER BY node""".stripMargin,

    // 3 unrolled synchronous LPA rounds: vote count per (node, label),
    // then the deterministic (votes DESC, label) pick — two-level
    // aggregation per round keeps it out of recursive-CTE reach, so the
    // rounds are spelled out
    "g4_label_prop" ->
      """WITH r AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |         1000000 + CAST(l_partkey AS BIGINT) AS dst
        |  FROM lineitem),
        |e AS (SELECT src, dst FROM r UNION SELECT dst, src FROM r),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
        |v1 AS (SELECT e.dst AS node, l.label, COUNT(*) AS v
        |       FROM e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (
        |  SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |    ORDER BY v DESC, label) AS rn FROM v1) WHERE rn = 1),
        |v2 AS (SELECT e.dst AS node, l.label, COUNT(*) AS v
        |       FROM e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |  SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |    ORDER BY v DESC, label) AS rn FROM v2) WHERE rn = 1),
        |v3 AS (SELECT e.dst AS node, l.label, COUNT(*) AS v
        |       FROM e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
        |l3 AS (SELECT node, label FROM (
        |  SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |    ORDER BY v DESC, label) AS rn FROM v3) WHERE rn = 1)
        |SELECT node, label FROM l3 ORDER BY node""".stripMargin,

    // 3 unrolled synchronous peel rounds: degree census, keep >= k,
    // restrict edges to kept endpoints — then report surviving degrees
    "g5_kcore" ->
      """WITH r AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |         1000000 + CAST(l_partkey AS BIGINT) AS dst
        |  FROM lineitem),
        |e0 AS (SELECT src, dst FROM r UNION SELECT dst, src FROM r),
        |k1 AS (SELECT src AS n FROM e0 GROUP BY src HAVING COUNT(*) >= 25),
        |e1 AS (SELECT e.src, e.dst FROM e0 e
        |       JOIN k1 a ON e.src = a.n JOIN k1 b ON e.dst = b.n),
        |k2 AS (SELECT src AS n FROM e1 GROUP BY src HAVING COUNT(*) >= 25),
        |e2 AS (SELECT e.src, e.dst FROM e1 e
        |       JOIN k2 a ON e.src = a.n JOIN k2 b ON e.dst = b.n),
        |k3 AS (SELECT src AS n FROM e2 GROUP BY src HAVING COUNT(*) >= 25),
        |e3 AS (SELECT e.src, e.dst FROM e2 e
        |       JOIN k3 a ON e.src = a.n JOIN k3 b ON e.dst = b.n)
        |SELECT src AS node, COUNT(*) AS degree
        |FROM e3 GROUP BY 1 ORDER BY 1""".stripMargin,

    "q56_islands" ->
      """WITH k AS (
        |  SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k
        |  FROM orders WHERE o_custkey % 3 = 0),
        |g AS (SELECT k, k - ROW_NUMBER() OVER (ORDER BY k) AS grp FROM k),
        |isl AS (
        |  SELECT MIN(k) AS island_start, MAX(k) AS island_end,
        |         MAX(k) - MIN(k) + 1 AS island_len
        |  FROM g GROUP BY grp)
        |SELECT island_len, COUNT(*) AS n_islands,
        |  MIN(island_start) AS min_start, MAX(island_start) AS max_start
        |FROM isl GROUP BY island_len ORDER BY island_len""".stripMargin,

    "q57_outliers" ->
      // the DOUBLE casts go through VARCHAR: DuckDB's direct
      // decimal(38,12) → double cast double-rounds (int128 → double →
      // ÷10^12, off by 1 ulp from Spark's correctly-rounded
      // BigDecimal.doubleValue); the exact decimal string re-parsed as
      // double is correctly rounded on both engines
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |s AS (
        |  SELECT event_type AS g, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS s1,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
        |         AS VARCHAR) AS DOUBLE) AS s2
        |  FROM e GROUP BY 1)
        |SELECT event_id, event_type, value,
        |  (value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)) AS z
        |FROM e JOIN s ON event_type = g
        |WHERE abs((value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n))) > 3.0
        |ORDER BY event_id""".stripMargin,

    "e9_kmeans" -> OracleSql.kmeansFixedPoint(k = 4, iters = 2, dim = 64),

    "e16_cluster_sample" ->
      OracleSql.kmeansBalancedSample(k = 4, iters = 2, dim = 64, perCell = 10),

    "m4_image_dhash" ->
      // mirrors MediaCodec.dhash bit for bit: the same (x·w)//9 nearest-
      // neighbor source indexing over the MediaGen.grayAt pixel formula;
      // bit 63 cannot be built as 1<<63 in DuckDB (overflow error), so it
      // enters the sum as the raw Long.MIN literal — disjoint bits keep
      // every partial sum in range
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id % 64 + 1 AS w, doc_id % 48 + 1 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |bits AS (
        |  SELECT id, y * 8 + x AS b
        |  FROM ids, range(0, 8) tx(x), range(0, 8) ty(y)
        |  WHERE ((x * w // 9) * 7 + (y * h // 8) * 13 + id * 31) % 256
        |      > (((x + 1) * w // 9) * 7 + (y * h // 8) * 13 + id * 31) % 256)
        |SELECT i.id AS media_id, CAST(i.w AS INT) AS width, CAST(i.h AS INT) AS height,
        |  CAST(COALESCE(SUM(CASE WHEN b.b = 63 THEN -9223372036854775808
        |                         ELSE (1::BIGINT << b.b) END), 0) AS BIGINT) AS dhash
        |FROM ids i LEFT JOIN bits b ON i.id = b.id
        |GROUP BY i.id, i.w, i.h ORDER BY media_id""".stripMargin,

    "q58_orc_roundtrip" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q64_avro_roundtrip" ->
      """SELECT s_nationkey, COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q65_jdbc_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q66_xml_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 50 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // corrupt rows parse to all-null fields (their SUM is NULL in both
    // engines); the quarantine split and good-row sums recompute
    // directly from the generating pattern
    "q68_corrupt_quarantine" ->
      """SELECT (o_orderkey % 10 = 7) AS quarantined, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderkey % 10 <> 7 THEN o_orderkey END)
        |       AS BIGINT) AS sum_k,
        |  CAST(SUM(CASE WHEN o_orderkey % 10 <> 7 THEN o_orderkey * 3 END)
        |       AS BIGINT) AS sum_v
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q67_fixedwidth_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
        |  CAST(MAX(l_linenumber) AS INT) AS max_ln
        |FROM lineitem WHERE l_orderkey % 40 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // csv round-trip is lossless (quantity pinned to decimal(18,2)
    // before the write), so the oracle recomputes from the parquet source
    "q71_csv_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
        |  CAST(MAX(l_linenumber) AS INT) AS max_ln
        |FROM lineitem WHERE l_orderkey % 40 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // banded-tolerance oracle for the lossy jpeg path: dimensions are
    // exact (jpeg is lossless on dims), and both fidelity bands must be
    // ZERO — the band widths carry >=3x margin over the measured worst
    // case while a broken decode lands bands apart (see the gate note)
    "m9_jpeg_lossy" ->
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 64 + 1 AS INT) AS width,
        |  CAST(doc_id % 48 + 1 AS INT) AS height,
        |  CAST(0 AS INT) AS dc_band,
        |  CAST(0 AS INT) AS mad_band
        |FROM documents WHERE doc_id % 3 = 1
        |ORDER BY media_id""".stripMargin,

    // brute-force all-pairs hamming over formula-derived 60-bit audio
    // hashes (same pigeonhole-equality argument as m5; chirp formula
    // chirpAt = ((id*31 + i*i*7 + i*17) % 65536) - 32768; frame means
    // truncate toward zero in BOTH engines)
    "m7_audio_neardup" ->
      """WITH base AS (SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 2),
        |ids AS (SELECT id FROM base UNION ALL SELECT id + 1638400 FROM base),
        |nn AS (SELECT id, id % 800 + 8 AS n FROM ids),
        |fr AS (SELECT id, n, f FROM nn, range(0, 61) t(f)),
        |sm AS (
        |  SELECT fr.id, fr.f,
        |    SUM(((fr.id * 31 + s.i * s.i * 7 + s.i * 17) % 65536) - 32768) AS ssum,
        |    COUNT(*) AS cnt
        |  FROM fr JOIN range(0, 808) s(i)
        |    ON s.i >= (fr.f * fr.n) // 61 AND s.i < ((fr.f + 1) * fr.n) // 61
        |  GROUP BY fr.id, fr.f),
        |mm AS (
        |  SELECT fr.id, fr.f, COALESCE(sm.ssum // sm.cnt, 0) AS m
        |  FROM fr LEFT JOIN sm ON sm.id = fr.id AND sm.f = fr.f),
        |bits AS (
        |  SELECT a.id, a.f AS b FROM mm a
        |  JOIN mm nx ON nx.id = a.id AND nx.f = a.f + 1
        |  WHERE a.f < 60 AND a.m > nx.m),
        |hs AS (
        |  SELECT i.id, CAST(COALESCE(SUM(1::BIGINT << b.b), 0) AS BIGINT) AS ah
        |  FROM ids i LEFT JOIN bits b ON i.id = b.id GROUP BY i.id)
        |SELECT a.id AS id1, b.id AS id2,
        |  CAST(bit_count(xor(a.ah, b.ah)) AS INT) AS hamming
        |FROM hs a JOIN hs b ON a.id < b.id
        |WHERE bit_count(xor(a.ah, b.ah)) <= 3
        |ORDER BY id1, id2""".stripMargin,

    "m6_binary_ingest" ->
      """WITH ids AS (
        |  SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 0 AND doc_id < 60),
        |xs AS (SELECT x FROM range(0, 64) t(x)),
        |ys AS (SELECT y FROM range(0, 48) t(y)),
        |img AS (
        |  SELECT id,
        |    CAST(SUM((x * 7 + y * 13 + id * 31) % 256) AS DOUBLE)
        |      / ((id % 64 + 1) * (id % 48 + 1)) AS mean_val
        |  FROM ids, xs, ys
        |  WHERE x < id % 64 + 1 AND y < id % 48 + 1
        |  GROUP BY id)
        |SELECT id AS media_id, CAST(id % 64 + 1 AS INT) AS width,
        |  CAST(id % 48 + 1 AS INT) AS height, mean_val
        |FROM img ORDER BY media_id""".stripMargin,

    "d32_shard_manifest" -> {
      val ntok = s"CASE WHEN length(trim(text)) = 0 THEN 0 " +
        s"ELSE len(${OracleSql.toks("text")}) END"
      s"""WITH sized AS (
         |  SELECT doc_id, CAST($ntok AS BIGINT) AS n_tokens FROM documents),
         |ranked AS (
         |  SELECT doc_id, n_tokens,
         |    ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rank
         |  FROM sized)
         |SELECT (rank - 1) % 16 AS shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
         |FROM ranked GROUP BY 1 ORDER BY shard""".stripMargin
    },

    "d31_sparse_matmul" -> {
      val tk = s"CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] " +
        s"ELSE ${OracleSql.toks("text")} END"
      val w = OracleSql.h64("token || '|' || CAST(topic AS VARCHAR)")
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |tok AS (SELECT doc_id AS doc, unnest($tk) AS token FROM d),
         |tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |b AS (
         |  SELECT token, topic, $w % 1000 AS w
         |  FROM (SELECT DISTINCT token FROM tf), range(0, 4) t(topic))
         |SELECT doc, CAST(topic AS INT) AS topic,
         |  CAST(SUM(tf * w) AS BIGINT) AS score
         |FROM tf JOIN b USING (token)
         |GROUP BY 1, 2 ORDER BY doc, topic""".stripMargin
    },

    "d33_allpairs_jaccard" -> {
      val hashes =
        s"list_transform(list_distinct(${OracleSql.shingles("text", 3)}), s -> ${OracleSql.h64("s")})"
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' zzz extra suffix'
         |  FROM documents WHERE doc_id % 50 = 0),
         |sets AS (SELECT doc_id, $hashes AS hashes FROM aug),
         |tok AS (SELECT doc_id, unnest(hashes) AS h FROM sets),
         |freq AS (SELECT h, COUNT(*) AS f FROM tok GROUP BY 1),
         |pref AS (
         |  SELECT doc_id, h FROM (
         |    SELECT t.doc_id, t.h,
         |      ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.f, t.h) AS ord,
         |      COUNT(*) OVER (PARTITION BY t.doc_id) AS len
         |    FROM tok t JOIN freq f USING (h))
         |  WHERE ord <= len - CAST(CEIL(len * 0.5) AS BIGINT) + 1),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM pref a JOIN pref b ON a.h = b.h AND a.doc_id < b.doc_id)
         |SELECT id1, id2, jaccard FROM (
         |  SELECT id1, id2,
         |    CAST(len(list_intersect(s1.hashes, s2.hashes)) AS DOUBLE) /
         |    CAST(len(list_distinct(s1.hashes || s2.hashes)) AS DOUBLE) AS jaccard
         |  FROM cands
         |  JOIN sets s1 ON s1.doc_id = id1
         |  JOIN sets s2 ON s2.doc_id = id2)
         |WHERE jaccard >= 0.5 ORDER BY id1, id2""".stripMargin
    },

    "d42_containment" -> {
      val hashes =
        s"list_transform(list_distinct(${OracleSql.shingles("text", 3)}), s -> ${OracleSql.h64("s")})"
      // tau arithmetic pinned to DOUBLE (0.8::DOUBLE) so the prefix-length
      // ceil matches Spark's double math (DuckDB would otherwise use
      // exact DECIMAL and round differently on len*0.8 boundaries)
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000,
         |    array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ')
         |  FROM documents WHERE doc_id % 40 = 0),
         |sets AS (SELECT doc_id, $hashes AS hashes FROM aug),
         |tok AS (SELECT doc_id, unnest(hashes) AS h FROM sets),
         |freq AS (SELECT h, COUNT(*) AS f FROM tok GROUP BY 1),
         |pref AS (
         |  SELECT doc_id, h FROM (
         |    SELECT t.doc_id, t.h,
         |      ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.f, t.h) AS ord,
         |      COUNT(*) OVER (PARTITION BY t.doc_id) AS len
         |    FROM tok t JOIN freq f USING (h))
         |  WHERE ord <= len - CAST(CEIL(len * 0.8::DOUBLE) AS BIGINT) + 1),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM pref a JOIN tok b ON a.h = b.h AND a.doc_id <> b.doc_id
         |  JOIN freq fb ON b.h = fb.h AND fb.f <= 1000)
         |SELECT id1, id2, containment FROM (
         |  SELECT id1, id2,
         |    CAST(len(list_intersect(s1.hashes, s2.hashes)) AS DOUBLE) /
         |    CAST(len(s1.hashes) AS DOUBLE) AS containment
         |  FROM cands
         |  JOIN sets s1 ON s1.doc_id = id1
         |  JOIN sets s2 ON s2.doc_id = id2)
         |WHERE containment >= 0.8::DOUBLE ORDER BY id1, id2""".stripMargin
    },

    "d30_curriculum" -> {
      val score = OracleSql.qualityScore("text")
      s"""WITH scored AS (
         |  SELECT doc_id,
         |    CASE WHEN $score >= 0.8 THEN 0
         |         WHEN $score >= 0.6 THEN 1 ELSE 2 END AS stage,
         |    md5('graft-epoch0-' || CAST(doc_id AS VARCHAR)) AS shuffle_key
         |  FROM documents)
         |SELECT ROW_NUMBER() OVER (ORDER BY stage, shuffle_key, doc_id) AS rank,
         |       stage, doc_id
         |FROM scored ORDER BY rank""".stripMargin
    },

    "q62_compaction" ->
      """WITH e AS (SELECT event_type, value FROM events),
        |t AS (SELECT COUNT(*) AS total FROM e)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total,
        |  (SELECT CAST((total + 19999) // 20000 AS INT) FROM t) AS n_files
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "q70_schema_evolution" ->
      """WITH m AS (
        |  SELECT 1 AS epoch, l_quantity,
        |         CAST(NULL AS DECIMAL(15,2)) AS l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 2, l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 2 = 1)
        |SELECT epoch, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q69_data_skipping" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the two-level manifest must be invisible to the answer: q111
    // replays q69's oracle through the grouped read path
    "q111_grouped_manifest" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // grouped-manifest probe minus the DV'd class = the straight filter
    // without it
    "q113_grouped_dv_read" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000 AND l_returnflag <> 'R'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the grouped takedown + grouped merge-on-read probe ≡ the range
    // filter minus the erased key class
    "q122_grouped_takedown" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000 AND l_orderkey % 17 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the extended layout reads exactly like the full table: evens were
    // built, odds arrived later — evens ∪ odds = everything
    "q112_grouped_manifest_extend" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // selective layout merge must equal the whole-table applyChanges
    "q77_merge_layout" ->
      """WITH chg AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |         o_totalprice + 10.0 AS o_totalprice, false AS is_delete
        |  FROM orders
        |  WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0 AND o_orderkey < 3000
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, true
        |  FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey < 3000
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'I', 1.0, false
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg)
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM chg
        |WHERE NOT is_delete
        |ORDER BY o_orderkey""".stripMargin,

    // same running-max island construction; DuckDB's frame-excluded
    // MAX matches Spark's rowsBetween(unboundedPreceding, -1)
    // distinct (price, qty) points, then the same preceding-min window
    // dominance test (equal points never dominate; after the collapse a
    // preceding row with an equal qty must have a strictly smaller
    // price, so "pm <= qty" is exactly dominance)
    "q80_skyline" ->
      """WITH p AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
        |         CAST(l_quantity AS BIGINT) AS qty, COUNT(*) AS n_rows
        |  FROM lineitem GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT l_returnflag, price, qty, n_rows,
        |    MIN(qty) OVER (PARTITION BY l_returnflag ORDER BY price, qty
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM p)
        |SELECT l_returnflag, CAST(CAST(price AS VARCHAR) AS DOUBLE) AS price,
        |       qty, n_rows
        |FROM f WHERE pm IS NULL OR qty < pm
        |ORDER BY l_returnflag, price""".stripMargin,

    // qualification (2·cum >= total) is monotone in the value order, so
    // MIN(v) over qualifying rows IS the weighted median
    "q81_weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |         CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
        |  FROM lineitem),
        |c AS (
        |  SELECT g, v, w,
        |    SUM(w) OVER (PARTITION BY g ORDER BY v, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(w) OVER (PARTITION BY g) AS tw
        |  FROM li)
        |SELECT g AS l_returnflag,
        |  CAST(CAST(MIN(v) AS VARCHAR) AS DOUBLE) AS wmedian,
        |  CAST(MAX(tw) AS BIGINT) AS total_weight
        |FROM c WHERE cw * 2 >= tw
        |GROUP BY g ORDER BY g""".stripMargin,

    // tiebreak pinned: among equally frequent values the LARGER value
    // wins (the struct-max field order on the Spark side)
    "q82_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |         COUNT(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT l_returnflag, qty, n, ROW_NUMBER() OVER (
        |    PARTITION BY l_returnflag ORDER BY n DESC, qty DESC) AS rn
        |  FROM c)
        |SELECT l_returnflag, qty AS mode_qty, n AS mode_n
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,

    "q79_interval_coalesce" ->
      """WITH iv AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s0,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 + 1800 AS e0
        |  FROM events WHERE event_type = 'purchase'),
        |flagged AS (
        |  SELECT user_id, s0, e0,
        |    CASE WHEN MAX(e0) OVER (PARTITION BY user_id ORDER BY s0, e0
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |         OR s0 > MAX(e0) OVER (PARTITION BY user_id ORDER BY s0, e0
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_grp
        |  FROM iv),
        |grp AS (
        |  SELECT user_id, s0, e0,
        |    SUM(new_grp) OVER (PARTITION BY user_id ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM flagged)
        |SELECT user_id, MIN(s0) AS span_start, MAX(e0) AS span_end,
        |       COUNT(*) AS n_events
        |FROM grp GROUP BY user_id, grp
        |ORDER BY user_id, span_start""".stripMargin,

    // exact decimal weighted sum; VARCHAR-cast to double to match
    // Spark's BigDecimal.doubleValue; twap = IEEE division of the two
    // agreed values
    "q78_twap" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(value AS DECIMAL(18,3)) AS v,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |d AS (
        |  SELECT user_id, v, us,
        |    LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us
        |  FROM e)
        |SELECT user_id,
        |  CAST(CAST(SUM(v * (next_us - us)) AS VARCHAR) AS DOUBLE) AS wsum,
        |  CAST(SUM(next_us - us) AS BIGINT) AS dur_us,
        |  CAST(CAST(SUM(v * (next_us - us)) AS VARCHAR) AS DOUBLE)
        |    / CAST(SUM(next_us - us) AS DOUBLE) AS twap
        |FROM d WHERE next_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // content equals the whole table; file count = 2 kept healthy files
    // + ceil(fragmentRows / 5000) rewritten ones
    "q75_compact_incremental" ->
      """WITH li AS (SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem),
        |sc AS (SELECT COUNT(*) AS small_cnt FROM li WHERE l_orderkey % 2 = 1)
        |SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  (SELECT CAST(2 + (small_cnt + 4999) // 5000 AS INT) FROM sc) AS n_files
        |FROM li GROUP BY 1 ORDER BY 1""".stripMargin,

    // both epochs together are the whole table, so the extended-manifest
    // pruned read must reproduce the full-scan filter
    "q73_manifest_extend" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q61_resample_locf" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |  WHERE event_type = 'purchase' AND user_id < 20),
        |b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS t0,
        |         date_trunc('hour', MAX(ts)) AS t1
        |  FROM ev GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
        |  FROM b),
        |u AS (
        |  SELECT user_id, ts, 1 AS tag,
        |         NULL::TIMESTAMP AS r_ts, NULL::DOUBLE AS r_value
        |  FROM grid
        |  UNION ALL
        |  -- mirror asOfJoin's max(struct(ts, value)) per-(key, ts) reduction
        |  SELECT user_id, ts, 0, ts, MAX(value)
        |  FROM ev GROUP BY user_id, ts),
        |f AS (
        |  SELECT user_id, ts, tag,
        |    LAST_VALUE(r_value IGNORE NULLS) OVER w AS locf_value
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, epoch_us(ts) AS grid_ts_us, locf_value
        |FROM f WHERE tag = 1 ORDER BY user_id, grid_ts_us""".stripMargin,

    "s9_stream_twstate" ->
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // batch recomputation of the TTL-expiry stream: every user emits one
    // running "upd" row (single data batch → full totals); users whose
    // last purchase sits more than ttl behind the global max event time
    // ALSO emit one "exp" row as their state is dropped. epoch_ms floors
    // ns → ms exactly like Timestamp.getTime floors the µs-truncated
    // Spark timestamps, and the watermark delay is 0, so expiry is the
    // strict comparison last_ms + ttl < max_ms on both engines
    "s11_stream_ttl_expiry" ->
      """WITH p AS (
        |  SELECT user_id, epoch_ms(ts) AS ms, value
        |  FROM events WHERE event_type = 'purchase'),
        |agg AS (
        |  SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents,
        |    MAX(ms) AS last_ms
        |  FROM p GROUP BY user_id),
        |mx AS (SELECT MAX(last_ms) AS m FROM agg)
        |SELECT user_id, kind, n, total_cents FROM (
        |  SELECT user_id, 'upd' AS kind, n, total_cents FROM agg
        |  UNION ALL
        |  SELECT a.user_id, 'exp' AS kind, a.n, a.total_cents
        |  FROM agg a, mx WHERE a.last_ms + 172800000 < mx.m)
        |ORDER BY user_id, kind""".stripMargin,

    "s8_stream_upsert" ->
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // identical to s8's batch truth: if the restarted incarnation
    // re-delivered epoch-1 files, every even user's n/total would
    // double and the hash would miss
    "s14_stream_restart" ->
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "m5_image_neardup" ->
      // brute-force all-pairs hamming over the formula-derived hashes:
      // pigeonhole (4 chunks, hamming <= 3) makes the banded Spark result
      // equal to brute force PROVIDED no (chunk, key) bucket exceeds
      // maxBucket (hammingPairs64's documented recall bound) — this
      // fixture's buckets are tiny (a few hundred distinct hashes, far
      // below the 1000 cap), so equality holds here and the oracle
      // needs no banding
      """WITH ids AS (
        |  SELECT doc_id AS id FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 768192 FROM documents WHERE doc_id % 3 = 0),
        |dims AS (SELECT id, id % 64 + 1 AS w, id % 48 + 1 AS h FROM ids),
        |bits AS (
        |  SELECT id, y * 8 + x AS b
        |  FROM dims, range(0, 8) tx(x), range(0, 8) ty(y)
        |  WHERE ((x * w // 9) * 7 + (y * h // 8) * 13 + id * 31) % 256
        |      > (((x + 1) * w // 9) * 7 + (y * h // 8) * 13 + id * 31) % 256),
        |hs AS (
        |  SELECT d.id,
        |    CAST(COALESCE(SUM(CASE WHEN b.b = 63 THEN -9223372036854775808
        |                           ELSE (1::BIGINT << b.b) END), 0) AS BIGINT) AS ph
        |  FROM dims d LEFT JOIN bits b ON d.id = b.id GROUP BY d.id)
        |SELECT a.id AS id1, b.id AS id2,
        |  CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
        |FROM hs a JOIN hs b ON a.id < b.id
        |WHERE bit_count(xor(a.ph, b.ph)) <= 3
        |ORDER BY id1, id2""".stripMargin,

    // same brute-force-vs-banded equality argument as m5 (buckets far
    // below the cap AFTER the pre-collapse this gate exercises); reps
    // carry the min doc_id per distinct payload, so an uncollapsed
    // run would hash-mismatch immediately
    "m8_image_neardup_collapsed" ->
      """WITH base AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |g AS (SELECT doc_id, CASE WHEN doc_id % 138 < 69 THEN doc_id % 138
        |                          ELSE doc_id % 138 - 69 + 768192 END AS gen
        |      FROM base),
        |reps AS (SELECT gen AS id, MIN(doc_id) AS media_id FROM g GROUP BY gen),
        |dims AS (SELECT id, media_id, id % 64 + 1 AS w, id % 48 + 1 AS h FROM reps),
        |bits AS (
        |  SELECT id, y * 8 + x AS b
        |  FROM dims, range(0, 8) tx(x), range(0, 8) ty(y)
        |  WHERE ((x * w // 9) * 7 + (y * h // 8) * 13 + id * 31) % 256
        |      > (((x + 1) * w // 9) * 7 + (y * h // 8) * 13 + id * 31) % 256),
        |hs AS (
        |  SELECT d.media_id,
        |    CAST(COALESCE(SUM(CASE WHEN b.b = 63 THEN -9223372036854775808
        |                           ELSE (1::BIGINT << b.b) END), 0) AS BIGINT) AS ph
        |  FROM dims d LEFT JOIN bits b ON d.id = b.id GROUP BY d.media_id)
        |SELECT a.media_id AS id1, b.media_id AS id2,
        |  CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
        |FROM hs a JOIN hs b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.ph, b.ph)) <= 3
        |ORDER BY id1, id2""".stripMargin,

    "q60_hierarchy" -> {
      val h = OracleSql.h64("'graft-tree-' || CAST(k AS VARCHAR)")
      s"""WITH RECURSIVE ks AS (
         |  SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k FROM orders),
         |t AS (
         |  SELECT k AS node,
         |    CASE WHEN k = 1 THEN k ELSE 1 + $h % (k - 1) END AS parent
         |  FROM ks),
         |r(node, depth) AS (
         |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
         |  UNION ALL
         |  SELECT t.node, r.depth + 1
         |  FROM t JOIN r ON t.parent = r.node WHERE t.node <> 1)
         |SELECT depth, COUNT(*) AS n_nodes,
         |  MIN(node) AS min_node, MAX(node) AS max_node
         |FROM r GROUP BY depth ORDER BY depth""".stripMargin
    },

    "q59_running_distinct" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events WHERE user_id % 5 = 0),
        |f AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY ts, event_id) = 1
        |         THEN 1 ELSE 0 END AS fs
        |  FROM e)
        |SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CAST(SUM(fs) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_distinct_types
        |FROM f ORDER BY user_id, event_id""".stripMargin,

    // longest path ending at each node, defined algorithm-independently
    // by the recursive closure over the same ascending-edge DAG; UNION
    // (not UNION ALL) dedups per-length states so the CTE terminates
    "g10_toposort" ->
      """WITH RECURSIVE
        |base AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
        |e AS (
        |  SELECT x.k AS src, y.k AS dst FROM base x JOIN base y
        |    ON y.k = x.k + 3 AND x.k // 30 = y.k // 30
        |  UNION
        |  SELECT x.k, y.k FROM base x JOIN base y
        |    ON y.k = x.k + 7 AND x.k // 30 = y.k // 30
        |  WHERE x.k % 5 = 0),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |p(node, len) AS (
        |  SELECT node, 0 FROM n
        |  UNION
        |  SELECT e.dst, p.len + 1 FROM p JOIN e ON e.src = p.node)
        |SELECT node, CAST(MAX(len) AS BIGINT) AS layer
        |FROM p GROUP BY node ORDER BY node""".stripMargin,

    // the degree cap and the fixed-point integer div are part of the
    // operator contract, so the oracle replays both over the
    // symmetrized bipartite graph
    "g11_link_predict" ->
      """WITH e0 AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |         CAST(1000000 + l_partkey AS BIGINT) AS dst
        |  FROM lineitem WHERE l_partkey % 20 = 0),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |k AS (SELECT e.src, e.dst, 1000000 // deg.d AS w
        |      FROM e JOIN deg USING (src) WHERE deg.d <= 25)
        |SELECT a.dst AS a, b.dst AS b, CAST(SUM(a.w) AS BIGINT) AS score
        |FROM k a JOIN k b ON a.src = b.src AND a.dst < b.dst
        |GROUP BY 1, 2 HAVING SUM(a.w) >= 80000
        |ORDER BY a, b""".stripMargin,

    // same half-open [d0, d1) sweep: per-day nets, running sum over
    // unique (group, day) rows, max per group
    "q83_max_concurrent" ->
      """WITH iv AS (
        |  SELECT o_orderpriority AS pr, CAST(o_orderdate AS DATE) AS d0,
        |         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 + 1 AS INT) AS d1
        |  FROM orders),
        |ev AS (
        |  SELECT pr, d0 AS d, 1 AS delta FROM iv
        |  UNION ALL SELECT pr, d1, -1 FROM iv),
        |daily AS (SELECT pr, d, SUM(delta) AS net FROM ev GROUP BY 1, 2),
        |run AS (
        |  SELECT pr, SUM(net) OVER (PARTITION BY pr ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |  FROM daily)
        |SELECT pr AS o_orderpriority, CAST(MAX(open) AS BIGINT) AS max_open
        |FROM run GROUP BY pr ORDER BY o_orderpriority""".stripMargin,

    // m1's closed-form dims/duration WITHOUT the pixel/sample means —
    // exactly what the header walk can know without decoding
    "m13_header_probe" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |       ELSE 'wav' END AS format,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 0
        |            ELSE doc_id % 64 + 1 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 0
        |            ELSE doc_id % 48 + 1 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2
        |            THEN (doc_id % 800 + 8) * 1000 // 8000
        |            ELSE 0 END AS BIGINT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,

    // PCM formula → 64-sample integer block sums → the SAME single
    // IEEE division Spark's block mean performs → threshold → the
    // gaps-and-islands identity over qualifying blocks
    "m14_audio_segments" ->
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id % 800 + 8 AS n
        |  FROM documents WHERE doc_id % 3 = 2),
        |iz AS (SELECT i FROM range(0, 808) t(i)),
        |blocks AS (
        |  SELECT id, CAST(i // 64 AS INT) AS block_idx, COUNT(*) AS c,
        |         SUM(((id * 31 + i * 17) % 65536) - 32768) AS s
        |  FROM ids, iz WHERE i < n
        |  GROUP BY 1, 2),
        |v AS (
        |  SELECT id, block_idx,
        |    block_idx - ROW_NUMBER() OVER (PARTITION BY id
        |                                   ORDER BY block_idx) AS seg
        |  FROM blocks WHERE CAST(s AS DOUBLE) / c >= -20000.0)
        |SELECT id AS media_id, CAST(MIN(block_idx) AS INT) AS start_block,
        |  CAST(MAX(block_idx) AS INT) AS end_block,
        |  CAST(COUNT(*) AS BIGINT) AS n_blocks
        |FROM v GROUP BY id, seg ORDER BY media_id, start_block""".stripMargin,

    // gaps-and-islands replay of the built-in session_window: a new
    // session starts when the gap to the previous event is >= 30 min
    // (session windows are half-open [ts, ts+gap)); end = last + gap
    "s21_stream_session_window" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE user_id % 10 = 0),
        |m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |g AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, epoch_ms(MIN(ts)) AS start_ms,
        |  epoch_ms(MAX(ts) + INTERVAL 30 MINUTE) AS end_ms,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total
        |FROM g GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin,

    // the streamed bounded-heap fold equals the global per-group top-3
    "s22_stream_topk" ->
      """SELECT grp, rank, value, event_id FROM (
        |  SELECT user_id % 16 AS grp,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id % 16
        |      ORDER BY value DESC, event_id DESC) AS BIGINT) AS rank,
        |    value, event_id
        |  FROM events WHERE event_type = 'purchase')
        |WHERE rank <= 3 ORDER BY grp, rank""".stripMargin,

    // full replay of the rebalance round: e3's seeded assignment →
    // oversized lists (> 64) → seed A (min-id member) → seed B
    // (min-cosine-to-A, min-id tiebreak) → strictly-closer reassignment;
    // new cell ids are 8 + rank of the split cell
    "e23_ivf_rebalance" -> {
      val cosVC = OracleSql.cosine("v", "cv")
      val cosVA = OracleSql.cosine("a.v", "s.av")
      val cosVB = OracleSql.cosine("ca.v", "b.bv")
      s"""WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
         |           FROM embeddings WHERE vec_id < 8),
         |v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings),
         |assigned AS (
         |  SELECT id, v, cid AS cell FROM (
         |    SELECT id, v, cid,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY cs DESC, cid) AS rn
         |    FROM (SELECT id, v, cid, $cosVC AS cs
         |          FROM v CROSS JOIN c)) WHERE rn = 1),
         |osz AS (
         |  SELECT cell, 8 + ROW_NUMBER() OVER (ORDER BY cell) - 1 AS newcell
         |  FROM (SELECT cell, COUNT(*) AS n FROM assigned GROUP BY cell)
         |  WHERE n > 64),
         |seeda AS (
         |  SELECT a.cell, a.v AS av FROM assigned a
         |  JOIN (SELECT cell, MIN(id) AS id FROM assigned
         |        WHERE cell IN (SELECT cell FROM osz) GROUP BY cell) m
         |    ON a.cell = m.cell AND a.id = m.id),
         |cosa AS (
         |  SELECT a.id, a.cell, a.v, $cosVA AS cosA
         |  FROM assigned a JOIN seeda s USING (cell)),
         |seedb AS (
         |  SELECT a.cell, a.v AS bv FROM assigned a
         |  JOIN (SELECT cell, id FROM (
         |          SELECT cell, id,
         |            ROW_NUMBER() OVER (PARTITION BY cell
         |                               ORDER BY cosA, id) AS rn
         |          FROM cosa) WHERE rn = 1) p
         |    ON a.cell = p.cell AND a.id = p.id),
         |dec AS (
         |  SELECT ca.id,
         |    CASE WHEN $cosVB > ca.cosA THEN o.newcell ELSE ca.cell END AS cell
         |  FROM cosa ca JOIN seedb b USING (cell) JOIN osz o USING (cell))
         |SELECT id, CAST(cell AS INT) AS cell FROM (
         |  SELECT id, cell FROM assigned
         |  WHERE cell NOT IN (SELECT cell FROM osz)
         |  UNION ALL SELECT id, cell FROM dec)
         |ORDER BY id""".stripMargin
    },

    // identical distinct-then-hash shingle chain, first carrier = min
    // doc_id per hash, novel = first carrier is the doc itself
    "d51_ngram_novelty" -> {
      s"""WITH hs AS (
         |  SELECT doc_id, ${OracleSql.h64("s")} AS h FROM (
         |    SELECT doc_id,
         |      unnest(list_distinct(${OracleSql.shingles("text", 3)})) AS s
         |    FROM documents)),
         |f AS (SELECT h, MIN(doc_id) AS first_id FROM hs GROUP BY h)
         |SELECT doc_id, COUNT(*) AS n_shingles,
         |  CAST(SUM(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel
         |FROM hs JOIN f USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // same four exact moments; the decimal numerator crosses to DOUBLE
    // via VARCHAR (DuckDB's direct decimal→double cast double-rounds)
    "q84_group_trend" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS pr,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS y
        |  FROM orders),
        |m AS (
        |  SELECT pr, COUNT(*) AS n, SUM(x) AS sx,
        |    CAST(SUM(y) AS DECIMAL(38,2)) AS sy,
        |    CAST(SUM(x * y) AS DECIMAL(38,2)) AS sxy,
        |    SUM(x * x) AS sxx
        |  FROM o GROUP BY pr)
        |SELECT pr AS o_orderpriority, n,
        |  CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
        |FROM m ORDER BY o_orderpriority""".stripMargin,

    // same decimal revenue arithmetic, same star chain
    "q85_star_join" ->
      """SELECT r_name, CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT) AS yr,
        |  COUNT(*) AS n_items,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) -
        |                 CAST(l_discount AS DECIMAL(18,2)))) AS VARCHAR)
        |       AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY r_name, yr""".stripMargin,

    // full rebuild over the change-applied tables — the invariant the
    // incremental maintenance must reproduce exactly
    "q86_incremental_join_view" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
        |         THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, 1.0
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |b AS (
        |  SELECT c_custkey, c_nationkey,
        |    CASE WHEN c_custkey % 11 = 0 THEN c_acctbal + 5.0
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer)
        |SELECT a.o_orderkey, a.o_custkey, a.o_totalprice,
        |  b.c_acctbal, b.c_nationkey
        |FROM a JOIN b ON a.o_custkey = b.c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    // the pruned scan must still aggregate exactly the rarest type's slice
    "q87_dynamic_pruning" ->
      """WITH d AS (
        |  SELECT event_type FROM (
        |    SELECT event_type,
        |      ROW_NUMBER() OVER (ORDER BY COUNT(*), event_type) AS rk
        |    FROM events GROUP BY event_type) WHERE rk = 1)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total
        |FROM events WHERE event_type IN (SELECT event_type FROM d)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical distinct-then-hash chain, distinct (lang, hash) pairs,
    // canonical lang_a < lang_b self-join
    "d52_overlap_matrix" -> {
      s"""WITH gh AS (
         |  SELECT DISTINCT lang AS grp, ${OracleSql.h64("s")} AS h FROM (
         |    SELECT lang,
         |      unnest(list_distinct(${OracleSql.shingles("text", 3)})) AS s
         |    FROM documents))
         |SELECT a.grp AS grp_a, b.grp AS grp_b, COUNT(*) AS n_shared
         |FROM gh a JOIN gh b ON a.h = b.h AND a.grp < b.grp
         |GROUP BY 1, 2 ORDER BY grp_a, grp_b""".stripMargin
    },

    // the streamed refresh must land exactly on the fully-updated join
    "s23_stream_view_refresh" ->
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
        |  CASE WHEN c.c_custkey % 3 = 0 THEN c.c_acctbal + 7.0
        |       ELSE c.c_acctbal END AS c_acctbal,
        |  c.c_nationkey
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    // same bounds, same hourly spine, same anti-join
    "q88_gap_detect" ->
      """WITH e AS (
        |  SELECT DISTINCT event_type,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |b AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
        |      FROM e GROUP BY 1),
        |s AS (SELECT event_type,
        |        unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |      FROM b)
        |SELECT s.event_type, s.h
        |FROM s LEFT JOIN e ON e.event_type = s.event_type AND e.h = s.h
        |WHERE e.h IS NULL ORDER BY 1, 2""".stripMargin,

    // the corruption plan is a pure function of doc_id, so the oracle
    // states each verdict in closed form: %13 → zeroed payload
    // (unparseable), %7 png/wav → header-truncated (header facts
    // survive, decode fails), everything else decodes
    "m15_media_triage" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 13 = 0 THEN 'unknown'
        |       WHEN doc_id % 3 = 0 THEN 'png'
        |       WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |  CAST(CASE WHEN doc_id % 13 = 0 OR doc_id % 3 = 2 THEN 0
        |            ELSE doc_id % 64 + 1 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 13 = 0 OR doc_id % 3 = 2 THEN 0
        |            ELSE doc_id % 48 + 1 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 13 <> 0 AND doc_id % 3 = 2
        |            THEN (doc_id % 800 + 8) * 1000 // 8000
        |            ELSE 0 END AS BIGINT) AS duration_ms,
        |  CASE WHEN doc_id % 13 = 0 THEN 'unparseable'
        |       WHEN doc_id % 7 = 0 AND doc_id % 3 <> 1 THEN 'header_only'
        |       ELSE 'ok' END AS status
        |FROM documents ORDER BY media_id""".stripMargin,

    // three independent IVF replays (nested WITH per branch) against one
    // brute-force ground truth, matched counts summed per sweep
    "e24_recall_sweep" -> {
      def branch(np: Int): String =
        s"""(WITH ${OracleSql.ivfKnnCtes(nlist = 8, nprobe = np, k = 5)},
           |approx AS (SELECT id, nid FROM knn WHERE id < 50),
           |bf AS (
           |  SELECT id, nid FROM (
           |    SELECT q.id, a.id AS nid,
           |      ROW_NUMBER() OVER (PARTITION BY q.id
           |        ORDER BY ${OracleSql.cosine("q.v", "a.v")} DESC, a.id) AS rn
           |    FROM v q JOIN v a ON a.id <> q.id
           |    WHERE q.id < 50) WHERE rn <= 5)
           |SELECT CAST($np AS INT) AS nprobe,
           |  CAST(COUNT(*) AS BIGINT) AS n_match,
           |  CAST(50 AS BIGINT) AS n_queries
           |FROM approx JOIN bf ON approx.id = bf.id AND approx.nid = bf.nid)""".stripMargin
      Seq(1, 2, 4).map(branch).mkString("", "\nUNION ALL\n",
        "\nORDER BY nprobe")
    },

    // prefix-cosine top-5 vs full-dim top-5, three truncation widths
    "e27_dim_sweep" -> {
      def knn(vq: String, va: String): String =
        s"""SELECT id, nid FROM (
           |    SELECT q.id, a.id AS nid,
           |      ROW_NUMBER() OVER (PARTITION BY q.id
           |        ORDER BY ${OracleSql.cosine(vq, va)} DESC, a.id) AS rn
           |    FROM v q JOIN v a ON a.id <> q.id
           |    WHERE q.id < 50) WHERE rn <= 5""".stripMargin
      def branch(d: Int): String =
        s"""(WITH v AS (SELECT vec_id AS id,
           |            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |bf AS (${knn("q.v", "a.v")}),
           |pf AS (${knn(s"q.v[1:$d]", s"a.v[1:$d]")})
           |SELECT CAST($d AS INT) AS dims,
           |  CAST(COUNT(*) AS BIGINT) AS n_match,
           |  CAST(50 AS BIGINT) AS n_queries
           |FROM pf JOIN bf ON pf.id = bf.id AND pf.nid = bf.nid)""".stripMargin
      Seq(8, 16, 32).map(branch).mkString("", "\nUNION ALL\n",
        "\nORDER BY dims")
    },

    // same salted-hash order, same integer cross-multiplied cutoff
    "d53_stratified_split" ->
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    md5('graft-split-' || CAST(doc_id AS VARCHAR)) AS hk
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS tot
        |  FROM d)
        |SELECT lang, doc_id FROM r WHERE rn * 20 <= tot * 1
        |ORDER BY lang, doc_id""".stripMargin,

    // greedy-prefix budget admission replayed with ONE plain window per
    // source (the oracle needn't be scale-safe); budgets generated from
    // the same arithmetic as the gate so they cannot drift
    "d55_budget_mix" -> budgetMixOracle,

    "d56_epoch_plan" ->
      s"""WITH $epochPlanCtes
         |SELECT doc_id, source, n_tokens, n_epochs FROM e
         |ORDER BY doc_id""".stripMargin,

    // the data card: fold the epoch plan per source; share = effective
    // tokens over the whole mix's effective tokens (exact longs < 2^53,
    // so the double division is engine-identical)
    "d58_mix_report" ->
      s"""WITH $epochPlanCtes,
         |per AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(SUM(n_tokens * n_epochs) AS BIGINT) AS eff_tokens
         |  FROM e GROUP BY 1)
         |SELECT source, n_docs, n_tokens, eff_tokens,
         |  CAST(eff_tokens AS DOUBLE) /
         |    CAST((SELECT SUM(eff_tokens) FROM per) AS DOUBLE) AS share
         |FROM per ORDER BY source""".stripMargin,

    "d57_shard_shuffle" -> {
      val gh = OracleSql.h64("'graft-shuffle-' || CAST(doc_id AS VARCHAR)")
      s"""WITH h AS (
         |  SELECT doc_id, lang, $gh AS gh FROM documents)
         |SELECT doc_id, lang, CAST(gh % 8 AS INT) AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY gh % 8
         |    ORDER BY gh, doc_id) AS BIGINT) AS seq
         |FROM h ORDER BY shard, seq""".stripMargin
    },

    // the SQL-TVF surface must land exactly on the Scala ops' oracles:
    // d56's epoch plan + d57's shard shuffle, part-tagged in one table
    "d61_sql_corpus_write" -> {
      val gh = OracleSql.h64("'graft-shuffle-' || CAST(doc_id AS VARCHAR)")
      s"""WITH $epochPlanCtes,
         |sh AS (SELECT doc_id, lang, $gh AS gh FROM documents)
         |SELECT 'epoch' AS part, doc_id, source AS tag,
         |  n_tokens AS v1, n_epochs AS v2 FROM e
         |UNION ALL
         |SELECT 'shard', doc_id, lang, CAST(gh % 8 AS BIGINT),
         |  CAST(ROW_NUMBER() OVER (PARTITION BY gh % 8
         |    ORDER BY gh, doc_id) AS BIGINT)
         |FROM sh
         |ORDER BY part, doc_id""".stripMargin
    },

    // the budget-mix TVF must land exactly on the Scala op's oracle —
    // d55's greedy prefix verbatim
    "d62_sql_budget_mix" -> budgetMixOracle,

    // the fold's total order under id-ordered arrival is (batch, h64,
    // id); batch index = doc_id div the gate's id-range width
    "s33_stream_shard" -> {
      val gh = OracleSql.h64("'graft-shuffle-' || CAST(doc_id AS VARCHAR)")
      s"""WITH mx AS (SELECT MAX(doc_id) // 4 + 1 AS per FROM documents),
         |h AS (SELECT doc_id, lang, $gh AS gh FROM documents)
         |SELECT doc_id, lang, CAST(gh % 8 AS INT) AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY gh % 8
         |    ORDER BY doc_id // (SELECT per FROM mx), gh, doc_id)
         |    AS BIGINT) AS seq
         |FROM h ORDER BY shard, seq""".stripMargin
    },

    // the id-ordered streaming fold lands exactly on the batch greedy
    // prefix — d55's oracle verbatim
    "s30_stream_budget_admit" -> budgetMixOracle,

    // the d3/d4/d5 oracle kernels composed over one pass — what the
    // SQL-registered functions must reproduce bit-for-bit
    "q89_sql_surface" -> {
      val sig = OracleSql.minhashSig("text", 4, 3)
      s"""SELECT doc_id, ${OracleSql.langIdCase("text")} AS lang_pred,
         |  ${OracleSql.simhash("text")} AS sh,
         |  sig[1] AS sig_0, sig[2] AS sig_1, sig[3] AS sig_2, sig[4] AS sig_3
         |FROM (SELECT doc_id, text, $sig AS sig FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    // presence flags from the same three id views, grouped
    "m16_modality_audit" ->
      """WITH ids AS (
        |  SELECT doc_id AS id FROM documents
        |  UNION SELECT vec_id FROM embeddings),
        |f AS (
        |  SELECT id,
        |    CASE WHEN id IN (SELECT doc_id FROM documents)
        |         THEN 1 ELSE 0 END AS has_doc,
        |    CASE WHEN id IN (SELECT vec_id FROM embeddings)
        |         THEN 1 ELSE 0 END AS has_emb,
        |    CASE WHEN id IN (SELECT doc_id FROM documents
        |                     WHERE doc_id % 3 <> 2)
        |         THEN 1 ELSE 0 END AS has_img
        |  FROM ids)
        |SELECT has_doc, has_emb, has_img, COUNT(*) AS n,
        |  MIN(id) AS min_id, MAX(id) AS max_id
        |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // closed-form verdicts for the streamed png subset (garbage wins
    // over truncation, matching the writer's if-order)
    "s24_stream_media_triage" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 13 = 0 THEN 'unknown' ELSE 'png' END AS format,
        |  CAST(CASE WHEN doc_id % 13 = 0 THEN 0
        |            ELSE doc_id % 64 + 1 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 13 = 0 THEN 0
        |            ELSE doc_id % 48 + 1 END AS INT) AS height,
        |  CAST(0 AS BIGINT) AS duration_ms,
        |  CASE WHEN doc_id % 13 = 0 THEN 'unparseable'
        |       WHEN doc_id % 7 = 0 THEN 'header_only'
        |       ELSE 'ok' END AS status
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id < 90
        |ORDER BY media_id""".stripMargin,

    // the skew remedy must not change a single value: same collapsed
    // key, same join, same aggregate
    "q90_aqe_skew_join" ->
      """WITH li AS (
        |  SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 1
        |              ELSE l_orderkey END AS jk, l_quantity
        |  FROM lineitem),
        |d AS (SELECT o_orderkey AS jk, o_orderpriority FROM orders)
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM li JOIN d USING (jk)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the bloom filter is pure pruning — values must be untouched
    "q91_runtime_bloom" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 97 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // v1 = the even-key epoch only; v2 = the whole table
    "q92_time_travel" ->
      """SELECT CAST(1 AS INT) AS version, l_returnflag,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT CAST(2 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem GROUP BY 2
        |ORDER BY version, l_returnflag""".stripMargin,

    // merge-on-read ≡ the plain filtered scan: rows hit by either delete
    // wave are simply absent
    "q93_deletion_vectors" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE NOT (l_returnflag = 'R') AND NOT (l_quantity >= 48.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // v1 = even keys; v2 = all; v3 = all minus returnflag R (DV
    // merge-on-read); v4 = the key-range slice (manifest-pruned scan is
    // lossless vs the plain filter); v5 = the bloom point lookup; v6 =
    // versioned merge-on-read (m1 snapshot + the full DV set: epoch-2
    // addresses match no scanned file, so the result is even minus R)
    "q104_sql_lake" ->
      """SELECT CAST(1 AS INT) AS version, l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT CAST(2 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem GROUP BY 2
        |UNION ALL
        |SELECT CAST(3 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem WHERE l_returnflag <> 'R' GROUP BY 2
        |UNION ALL
        |SELECT CAST(4 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 5000 GROUP BY 2
        |UNION ALL
        |SELECT CAST(5 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem WHERE l_orderkey = 1 GROUP BY 2
        |UNION ALL
        |SELECT CAST(6 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem WHERE l_orderkey % 2 = 0 AND l_returnflag <> 'R'
        |GROUP BY 2
        |ORDER BY version, l_returnflag""".stripMargin,

    // four pinned reads over the interleaved writer sequence: v1 = even
    // keys; v2 = even minus R; v3 = everything minus (even ∧ R) minus
    // the quantity takedown; v4 ≡ v3 through compaction + residual DV
    "q105_lake_multiwriter" ->
      """SELECT CAST(1 AS INT) AS version, l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT CAST(2 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem WHERE l_orderkey % 2 = 0 AND l_returnflag <> 'R'
        |GROUP BY 2
        |UNION ALL
        |SELECT CAST(3 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem
        |WHERE NOT (l_orderkey % 2 = 0 AND l_returnflag = 'R')
        |  AND NOT (l_quantity >= 48.0)
        |GROUP BY 2
        |UNION ALL
        |SELECT CAST(4 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem
        |WHERE NOT (l_orderkey % 2 = 0 AND l_returnflag = 'R')
        |  AND NOT (l_quantity >= 48.0)
        |GROUP BY 2
        |ORDER BY version, l_returnflag""".stripMargin,

    // a 4-range write produces exactly 4 files; stats fold to the plain
    // table aggregates (manifest content is layout-independent)
    "q106_sql_stats" ->
      """SELECT CAST(4 AS BIGINT) AS n_files,
        |  CAST(COUNT(*) AS BIGINT) AS total_rows,
        |  MIN(l_orderkey) AS min_key,
        |  MAX(l_orderkey) AS max_key,
        |  CAST(0 AS BIGINT) AS n_nulls
        |FROM lineitem""".stripMargin,

    // branch reads are predicate slices of the append-only table:
    // main = base+main-commit, dev = base+dev-commit, merged = all three
    "q107_branch" ->
      """WITH li AS (
        |  SELECT l_orderkey % 4 AS r, l_returnflag, l_quantity
        |  FROM lineitem),
        |s AS (
        |  SELECT 'main' AS branch, l_returnflag, l_quantity
        |  FROM li WHERE r IN (0, 2)
        |  UNION ALL
        |  SELECT 'dev', l_returnflag, l_quantity FROM li WHERE r IN (0, 1)
        |  UNION ALL
        |  SELECT 'merged', l_returnflag, l_quantity
        |  FROM li WHERE r IN (0, 1, 2))
        |SELECT branch, l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM s GROUP BY 1, 2 ORDER BY branch, l_returnflag""".stripMargin,

    // pruning is lossless whichever dimension the probe rides: each
    // result IS the plain range filter over the whole mixed-layout table
    "q108_partition_evolution" ->
      """WITH li AS (
        |  SELECT l_orderkey AS k, l_partkey AS v, l_quantity FROM lineitem)
        |SELECT dim, n_rows, sum_qty FROM (
        |  SELECT 'k' AS dim, COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM li WHERE k BETWEEN 100 AND 2000
        |  UNION ALL
        |  SELECT 'v', COUNT(*),
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM li WHERE v BETWEEN 50 AND 700)
        |ORDER BY dim""".stripMargin,

    // utf-8 payload bytes: Spark's string->binary cast ≡ DuckDB encode()
    "m18_pack_index" -> {
      val gh = OracleSql.h64("'graft-pack-' || CAST(doc_id AS VARCHAR)")
      s"""WITH h AS (
         |  SELECT doc_id, $gh AS gh,
         |    octet_length(encode(text)) AS len
         |  FROM documents)
         |SELECT doc_id, CAST(gh % 4 AS INT) AS shard,
         |  CAST(COALESCE(SUM(len) OVER (PARTITION BY gh % 4
         |    ORDER BY gh, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS "offset",
         |  CAST(len AS BIGINT) AS length
         |FROM h ORDER BY shard, "offset"""".stripMargin
    },

    // m18's byte window with the arrival-order batch prefix in the sort
    "s35_stream_pack" -> {
      val gh = OracleSql.h64("'graft-pack-' || CAST(doc_id AS VARCHAR)")
      s"""WITH mx AS (SELECT MAX(doc_id) // 4 + 1 AS per FROM documents),
         |h AS (
         |  SELECT doc_id, $gh AS gh,
         |    octet_length(encode(text)) AS len
         |  FROM documents)
         |SELECT doc_id, CAST(gh % 4 AS INT) AS shard,
         |  CAST(len AS BIGINT) AS length,
         |  CAST(COALESCE(SUM(len) OVER (PARTITION BY gh % 4
         |    ORDER BY doc_id // (SELECT per FROM mx), gh, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS "offset"
         |FROM h ORDER BY shard, "offset"""".stripMargin
    },

    // each commit is a % 3 slice; its signature is the slice aggregate
    "q109_commit_lineage" ->
      """SELECT COUNT(*) AS n_rows, MIN(l_orderkey) AS min_key,
        |  MAX(l_orderkey) AS max_key,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_orderkey % 3 ORDER BY min_key""".stripMargin,

    // the SQL replay of the commit/merge/lineage cycle lands on the
    // same per-commit slice signatures as the Scala one (q109)
    "q110_sql_branch_lineage" ->
      """SELECT COUNT(*) AS n_rows, MIN(l_orderkey) AS min_key,
        |  MAX(l_orderkey) AS max_key,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_orderkey % 3 ORDER BY min_key""".stripMargin,

    // publish reunites base + streamed commits: main after WAP IS the
    // whole documents table
    "s34_stream_wap" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // the JSON → variant → typed-extract round trip is the identity on
    // the underlying values; missing paths are null
    "q103_variant" ->
      """SELECT l_returnflag AS flag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS sum_line,
        |  CAST(0 AS BIGINT) AS n_absent
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // null skipping is lossless: the result IS the IS NOT NULL scan
    "q102_null_skipping" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin,

    // the streamed manifest must serve the SAME pruned read the batch
    // manifest would: result = the plain range filter
    "s28_stream_manifest_maintenance" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey >= 1
        |  AND l_orderkey <= (SELECT MAX(l_orderkey) // 2 FROM lineitem)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // v1 = epoch-1 minus its R rows; v2 = both epochs minus epoch-1 R
    // rows minus the ≥48 wave — the asymmetry proves DVs are ADDRESSES
    // (epoch-2 R rows with qty < 48 survive v2)
    "q101_versioned_deletes" ->
      """SELECT CAST(1 AS INT) AS version, l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 2 = 0 AND NOT l_returnflag = 'R'
        |GROUP BY 2
        |UNION ALL
        |SELECT CAST(2 AS INT), l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem
        |WHERE NOT ((l_orderkey % 2 = 0 AND l_returnflag = 'R')
        |           OR l_quantity >= 48.0)
        |GROUP BY 2
        |ORDER BY version, l_returnflag""".stripMargin,

    // the rolled view ≡ the direct aggregate over the v2 live set
    // (q101's v2 predicate): base + signed change-feed fold, never a
    // recompute
    "q117_ivm_change_feed" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE NOT ((l_orderkey % 2 = 0 AND l_returnflag = 'R')
        |           OR l_quantity >= 48.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // each TVF ≡ its Scala op's closed form: the takedown search is
    // the dup-token scan minus erased keys, the plain search the whole
    // dup-token scan, the diff's inserts/deletes the (v2 − v1) /
    // newly-deleted slices
    "q120_sql_cdc" -> {
      val dup = s"CASE WHEN length(trim(text)) = 0 THEN FALSE " +
        s"ELSE list_contains(${OracleSql.toks("text")}, 'dup') END"
      s"""SELECT 'search' AS op, doc_id FROM documents
         |WHERE doc_id % 3 <> 0 AND $dup
         |UNION ALL
         |SELECT 'search_all' AS op, doc_id FROM documents WHERE $dup
         |UNION ALL
         |SELECT 'diff_insert' AS op, doc_id FROM documents
         |WHERE doc_id % 2 = 1 AND doc_id % 3 <> 0
         |UNION ALL
         |SELECT 'diff_delete' AS op, doc_id FROM documents
         |WHERE doc_id % 2 = 0 AND doc_id % 3 = 0
         |ORDER BY op, doc_id""".stripMargin
    },

    // v1 ≡ the even epoch un-deleted; v2 ≡ the whole table minus the
    // takedown class — each version reads its own consistent world
    "q124_sql_catalog_read" ->
      """SELECT 1 AS version, l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 2 = 0
        |GROUP BY 2
        |UNION ALL
        |SELECT 2 AS version, l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE NOT l_quantity >= 48.0
        |GROUP BY 2
        |ORDER BY version, l_returnflag""".stripMargin,

    // the SQL replay of q119's refresh ≡ the same post-change aggregate
    "q123_sql_hybrid_refresh" ->
      """SELECT l_suppkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v
        |FROM lineitem
        |WHERE l_orderkey % 7 = 0 OR l_orderkey % 50 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the hybrid-refreshed view ≡ the direct aggregate over the post-
    // change base: base0 (% 7 ≠ 0) plus inserts (% 7 = 0) minus the
    // retracted % 50 = 0 rows
    "q119_view_refresh_hybrid" ->
      """SELECT l_suppkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v
        |FROM lineitem
        |WHERE l_orderkey % 7 = 0 OR l_orderkey % 50 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the MV-rewritten aggregate (answered from the view rows — the
    // gate REQUIREs the plan never scans the base) ≡ the closed-form
    // aggregate over the live (DV-surviving) rows
    "q125_mv_rewrite" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS min_qty,
        |  CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty
        |FROM lineitem
        |WHERE NOT l_quantity >= 48.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // both the compound-key dashboard and the table-wide rollup
    // (answered from the same view rows — the gate REQUIREs the plan
    // never scans a base file) ≡ the closed-form aggregates over the
    // live rows
    "q127_mv_rollup" ->
      """SELECT 'group' AS scope, l_returnflag || l_linestatus AS grp,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS min_qty,
        |  CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty
        |FROM lineitem WHERE NOT l_quantity >= 48.0
        |GROUP BY 2
        |UNION ALL
        |SELECT 'all', '*', COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
        |  CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
        |  CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem WHERE NOT l_quantity >= 48.0
        |ORDER BY scope, grp""".stripMargin,

    // the manifest-pruned scan (the gate REQUIREs a strict file-subset
    // plan) ≡ the plain filtered aggregate over the live rows
    "q129_scan_prune" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000 AND NOT l_quantity >= 48.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // clustering changes layout, never content: the optimized version's
    // box-filtered aggregate ≡ the live rows (deletes folded in by the
    // rewrite)
    "q130_cluster_optimize" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 1 AND 5
        |  AND NOT l_quantity >= 48.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // base deletes subtract via the carried DV, delta deletes were
    // applied during the rewrite — together exactly the global
    // NOT q >= 48 filter over both epochs
    "q131_cluster_delta" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 1 AND 5
        |  AND NOT l_quantity >= 48.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the grouped hybrid count ≡ the closed-form count; group pruning
    // and file classification are lossless
    "q135_count_grouped" ->
      """SELECT COUNT(*) AS n_rows FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000""".stripMargin,

    // 3-D clustering is layout-only; content = live rows under the box
    "q134_cluster_3d" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 1 AND 5
        |  AND l_linenumber BETWEEN 1 AND 2
        |  AND NOT l_quantity >= 48.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // fully-contained files contribute n_rows − nulls from metadata,
    // straddling files scan with the residual range — exactly the
    // closed-form count
    "q133_count_range" ->
      """SELECT COUNT(*) AS n_rows FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 30000""".stripMargin,

    // bloom skipping is lossless: false positives only ADD files, the
    // residual filter makes the rows exactly the full-scan equality
    "q132_bloom_prune" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE l_orderkey IN (1, 7, 1000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // file skipping is lossless for an inner equi-join: a skipped file's
    // key span holds no dim key, so it joins to nothing — the pruned
    // join ≡ the plain join
    "q136_join_skip" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_partkey % 6000 = 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the grouped path admits exactly the flat path's files (spec-
    // proven) — same closed form as q136
    "q142_join_skip_grouped" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_partkey % 6000 = 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // bloom admission only ever ADDS files (false positives); the join
    // itself removes them — the result is exactly the full-scan join
    "q137_join_skip_bloom" ->
      """SELECT o_orderkey, l_linenumber, o_custkey,
        |  CAST(l_quantity AS DOUBLE) AS quantity
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 16384 = 1
        |ORDER BY 1, 2""".stripMargin,

    // schema evolution is metadata-only: even-key rows kept their
    // original balance, odd-key rows appended through the renamed
    // schema with +1, the re-added c_name is typed null everywhere,
    // and the widened key reads as BIGINT
    "q139_schema_evolution" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        |  c_acctbal AS balance, CAST(NULL AS BIGINT) AS c_name
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT CAST(c_custkey AS BIGINT), c_acctbal + 1,
        |  CAST(NULL AS BIGINT)
        |FROM customer WHERE c_custkey % 2 = 1
        |ORDER BY 1""".stripMargin,

    // the automatic rewrite is invisible in the rows: the injected key
    // conjunct is implied by the inner join itself
    "q141_join_skip_auto" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_partkey % 6000 = 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // maintenance is layout-only: seed (%2=0) ∪ small wave (%8=1) ∪
    // big wave (%2=1 ∧ %8≠1) = the whole table; the box aggregate is
    // invariant under none/delta/full re-clustering
    "q140_auto_optimize" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 1 AND 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // maintenance folds the waves losslessly: the final content is the
    // two changesets applied over the seed, in closed form (wave-2
    // updates (%10=3) are disjoint from wave-1's key classes, and
    // shifted inserts keep %10 = 2 — no interaction)
    "q143_lake_lifecycle" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey,
        |    o_totalprice + CASE WHEN o_orderkey % 100 = 0 THEN 1000
        |                        WHEN o_orderkey % 10 = 3 THEN 7
        |                        ELSE 0 END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 <> 1
        |  UNION ALL
        |  SELECT o_orderkey + 2000000, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 2)
        |SELECT o_custkey % 5 AS grp, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM merged
        |WHERE o_custkey BETWEEN 10 AND 60
        |  AND o_orderkey BETWEEN 1000 AND 3000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // four disjoint-key changesets fold order-free: per-key-class
    // updates (+1000·(k+1)), deletes (%100 ∈ 10..13) and shifted
    // inserts (%100 ∈ 20..23) reconstruct in closed form
    "s45_stream_merge" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey,
        |    o_totalprice + CASE o_orderkey % 100
        |      WHEN 0 THEN 1000 WHEN 1 THEN 2000
        |      WHEN 2 THEN 3000 WHEN 3 THEN 4000
        |      ELSE 0 END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 NOT IN (10, 11, 12, 13)
        |  UNION ALL
        |  SELECT o_orderkey + (o_orderkey % 100 - 19) * 100000000,
        |    o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 IN (20, 21, 22, 23))
        |SELECT o_orderkey % 7 AS grp, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    // the interleaved stream lands every document exactly once; the
    // batch writer's commits change the catalog, never the table
    "s46_stream_batch_interleave" ->
      """SELECT doc_id % 4 AS grp, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // same merge semantics as q138 through the grouped manifest — the
    // layout changes the COST, never the rows
    "q144_merge_grouped" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 NOT IN (0, 1)
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 2)
        |SELECT o_orderkey % 7 AS grp, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    // the DBA session's final world in closed form — identical to
    // q144's merge oracle (the optimize/maintain/vacuum steps change
    // layout and retention, never rows)
    "q147_dba_session" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 NOT IN (0, 1)
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 2)
        |SELECT o_orderkey % 7 AS grp, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    // the racing-writers history in closed form: CAS + re-prepare makes
    // every version carry its predecessor plus exactly one artifact,
    // whatever the interleaving — the data-independent shape the gate
    // REQUIREs and then emits
    "q145_concurrent_commits" ->
      """SELECT CAST(r AS INT) AS version, CAST(r AS BIGINT) AS n_artifacts,
        |  TRUE AS carries_prior
        |FROM range(1, 41) t(r) ORDER BY version""".stripMargin,

    // as-of 1500 -> v1 (even keys only), as-of 2500 -> v2 (everything)
    "q146_time_travel_ts" ->
      """SELECT CAST(1500 AS BIGINT) AS as_of, CAST(1 AS INT) AS version,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT CAST(2500 AS BIGINT), CAST(2 AS INT), COUNT(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders
        |ORDER BY as_of""".stripMargin,

    // final world = seed (%4=0) + writer a's class (%4=1) + writer b's
    // class (%4=3); only %4=2 was never ingested
    "q148_concurrent_manifest" ->
      """SELECT o_orderkey % 7 AS grp, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_orderkey % 4 <> 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // survivors = rows outside both writers' delete residues
    // (a: %20 even < 10, b: %20 odd < 10 — union is %20 < 10)
    "q149_concurrent_dv" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem WHERE l_orderkey % 20 >= 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // phase 1 = the reconstructed partitioned snapshot by partition;
    // phase 2 = partition 2 restricted to the composed key span
    "q150_partitioned_manifest" ->
      """SELECT CAST(1 AS INT) AS phase, CAST(o_orderkey % 4 AS INT) AS p,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(2 AS INT), COUNT(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders
        |WHERE o_orderkey % 4 = 2 AND o_orderkey BETWEEN 100 AND 2000
        |ORDER BY phase, p""".stripMargin,

    // phase 1 = the pre-append grouped snapshot (all orders, by
    // partition); phase 2 = the key-range probe inside partition 2;
    // phase 3 = the appended wave (keys shifted by 3e6 ≡ 0 mod 4, so
    // p is still o_orderkey % 4) restricted to partition 3
    "q151_partitioned_grouped" ->
      """SELECT CAST(1 AS INT) AS phase, CAST(o_orderkey % 4 AS INT) AS p,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(2 AS INT), COUNT(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders
        |WHERE o_orderkey % 4 = 2 AND o_orderkey BETWEEN 100 AND 2000
        |UNION ALL
        |SELECT CAST(3 AS INT), CAST(3 AS INT), COUNT(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders
        |WHERE o_orderkey % 10 = 7 AND o_orderkey % 4 = 3
        |ORDER BY phase, p""".stripMargin,

    // deletes = the DV'd original keys (≡ 5 mod 100, hence all in
    // p = 1 since 100 ≡ 0 mod 4); inserts = the appended wave (keys
    // shifted by 3e6 ≡ 0 mod 4, so p is still o_orderkey % 4)
    "q152_partitioned_cdc" ->
      """SELECT 'delete' AS _change_type, CAST(1 AS INT) AS p,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_orderkey % 100 = 5
        |UNION ALL
        |SELECT 'insert', CAST(o_orderkey % 4 AS INT), COUNT(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 10 = 7 GROUP BY 2
        |ORDER BY _change_type, p""".stripMargin,

    // the merged snapshot in closed form: updated rows (+1000), kept
    // rows (neither updated nor deleted), inserted rows (shifted keys)
    "q138_merge_mor" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 NOT IN (0, 1)
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 2)
        |SELECT o_orderkey % 7 AS grp, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    // four appended quarters, continuously re-clustered — content is
    // exactly the whole table; the clustering is layout-only
    "s44_stream_cluster_maintain" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 1 AND 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // each version's view-answered dashboard ≡ its closed-form prefix:
    // v1 = epoch-1 rows minus the R wave; v2 adds epoch 2 and subtracts
    // the q≥48 wave across both epochs (q114's version model, read
    // through the rewrite)
    "q128_mv_versions" ->
      """SELECT 1 AS version, l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS min_qty,
        |  CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty
        |FROM lineitem
        |WHERE l_orderkey % 2 = 0 AND NOT l_returnflag = 'R'
        |GROUP BY 2
        |UNION ALL
        |SELECT 2, l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
        |  CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
        |  CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem
        |WHERE NOT l_quantity >= 48.0
        |  AND (l_orderkey % 2 = 1 OR NOT l_returnflag = 'R')
        |GROUP BY 2
        |ORDER BY version, l_returnflag""".stripMargin,

    // the manifest-answered panel (the gate REQUIREs zero data-file
    // I/O) ≡ the full-scan aggregate, nulls included
    "q126_meta_agg" ->
      """SELECT COUNT(*) AS n_rows,
        |  MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
        |  COUNT(q) AS n_q, MIN(q) AS min_q, MAX(q) AS max_q
        |FROM (SELECT l_orderkey,
        |        CASE WHEN l_linenumber % 3 = 0 THEN NULL
        |             ELSE l_quantity END AS q
        |      FROM lineitem)""".stripMargin,

    // the extracted change feed ≡ the closed-form (v2 − v1) / (v1 − v2)
    // slices: inserts are the epoch-2 rows live at v2 (wave-2 deletes
    // excluded; the R wave addressed epoch-1 files only), deletes are
    // the epoch-1 rows live at v1 that wave 2 newly addressed
    "q114_snapshot_diff" ->
      """SELECT 'insert' AS change_type, l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 2 = 1 AND NOT l_quantity >= 48.0
        |GROUP BY 2
        |UNION ALL
        |SELECT 'delete', l_returnflag, COUNT(*),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM lineitem
        |WHERE l_orderkey % 2 = 0 AND NOT l_returnflag = 'R'
        |  AND l_quantity >= 48.0
        |GROUP BY 2
        |ORDER BY change_type, l_returnflag""".stripMargin,

    // partition-grain refresh ≡ the CASE-updated table (q97's semantics
    // through a different mechanism)
    "q99_dynamic_overwrite" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(CASE WHEN l_returnflag = 'R'
        |                     THEN l_quantity + 100.0 ELSE l_quantity END
        |           AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // after rollback the directory IS the v1 snapshot
    "q100_snapshot_rollback" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // closed-form sidecar entries: the parse must surface exactly what
    // the generator spliced in, in chunk order
    "m17_png_metadata" ->
      """SELECT media_id, key, value FROM (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id, 'caption' AS key,
        |         'synthetic image ' || CAST(doc_id AS VARCHAR) AS value
        |  FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT), 'source',
        |         'crawl-' || CAST(doc_id % 7 AS VARCHAR)
        |  FROM documents)
        |ORDER BY media_id, key""".stripMargin,

    // the folded DV stream ≡ the plain key-filtered table
    "s27_stream_dv_maintenance" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 5 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // merge-on-read update ≡ the CASE-updated table
    "q97_dv_upsert" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(CASE WHEN l_returnflag = 'R'
        |                     THEN l_quantity + 100.0 ELSE l_quantity END
        |           AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // vacuum removes only unreferenced files: the directory read equals
    // the whole table
    "q98_snapshot_gc" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // compaction + residual DV ≡ the straight post-delete table
    "q96_dv_compact" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE NOT (l_orderkey < (SELECT MAX(l_orderkey) // 4 FROM lineitem)
        |           OR l_orderkey % 101 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // 5 unrolled peel rounds + the −1 leftovers; MATERIALIZED for the
    // same exponential-inlining reason as g13
    "g14_kahn_layers" -> {
      def roundCtes(r: Int): String =
        s"""s$r AS MATERIALIZED (
           |  SELECT node FROM a${r - 1}
           |  WHERE node NOT IN (SELECT dst FROM e${r - 1})),
           |a$r AS MATERIALIZED (
           |  SELECT node FROM a${r - 1}
           |  WHERE node NOT IN (SELECT node FROM s$r)),
           |e$r AS MATERIALIZED (
           |  SELECT src, dst FROM e${r - 1}
           |  WHERE src NOT IN (SELECT node FROM s$r))""".stripMargin
      s"""WITH raw AS (
         |  SELECT CAST(l_suppkey AS BIGINT) AS src,
         |         CAST(l_partkey AS BIGINT) + 1000000 AS dst FROM lineitem
         |  UNION ALL
         |  SELECT src, dst FROM (VALUES
         |    (1000001, 9000001), (9000001, 9000002),
         |    (9100001, 9100002), (9100002, 9100003),
         |    (9100003, 9100001), (9100003, 9100009)) t(src, dst)),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
         |a0 AS MATERIALIZED (
         |  SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
         |${(1 to 5).map(roundCtes).mkString(",\n")}
         |SELECT node, layer FROM (
         |  ${(1 to 5).map(r => s"SELECT node, $r AS layer FROM s$r")
             .mkString("\n  UNION ALL ")}
         |  UNION ALL SELECT node, -1 AS layer FROM a5)
         |ORDER BY node""".stripMargin
    },

    // 8 unrolled Luby rounds: per-round best-active-neighbor reduce,
    // winner filter on the (h, node) total order, loser knockout
    "g13_mis" -> {
      // MATERIALIZED: each a_r references its predecessors more than
      // once — inlined CTEs would expand the chain exponentially
      def roundCtes(r: Int): String =
        s"""nb$r AS MATERIALIZED (
           |  SELECT e.a AS node, MIN(struct_pack(h := p.h, n := p.node)) AS nb
           |  FROM edges e JOIN a${r - 1} p ON p.node = e.b GROUP BY e.a),
           |w$r AS MATERIALIZED (
           |  SELECT a.node FROM a${r - 1} a LEFT JOIN nb$r n ON n.node = a.node
           |  WHERE n.nb IS NULL
           |     OR struct_pack(h := a.h, n := a.node) < n.nb),
           |l$r AS MATERIALIZED (
           |  SELECT DISTINCT e.b AS node FROM edges e
           |  JOIN w$r w ON w.node = e.a),
           |a$r AS MATERIALIZED (
           |  SELECT * FROM a${r - 1}
           |  WHERE node NOT IN (SELECT node FROM w$r)
           |    AND node NOT IN (SELECT node FROM l$r))""".stripMargin
      s"""WITH raw AS (
         |  SELECT CAST(l_suppkey AS BIGINT) AS a,
         |         CAST(l_partkey AS BIGINT) + 1000000 AS b FROM lineitem),
         |edges AS MATERIALIZED (
         |  SELECT DISTINCT a, b FROM (
         |    SELECT a, b FROM raw UNION ALL SELECT b, a FROM raw)
         |  WHERE a <> b),
         |a0 AS MATERIALIZED (
         |  SELECT node,
         |    ('0x' || substr(md5(concat_ws('-', 'graft-mis-g13',
         |      CAST(node AS VARCHAR))), 1, 15))::BIGINT AS h
         |  FROM (SELECT DISTINCT a AS node FROM edges)),
         |${(1 to 8).map(roundCtes).mkString(",\n")}
         |SELECT node, round FROM (
         |  ${(1 to 8).map(r => s"SELECT node, $r AS round FROM w$r")
             .mkString("\n  UNION ALL ")})
         |ORDER BY node""".stripMargin
    },

    // s12's append-mode eviction algebra on BOTH sides: matches emit as
    // they form; an unmatched row on either side null-extends only when
    // the final watermark has passed its join window
    "s26_stream_full_outer_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE user_id % 7 = 1),
        |p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM e
        |      WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS v_user, event_id AS v_id, ts AS v_ts FROM e
        |      WHERE event_type = 'view'),
        |wm AS (SELECT least((SELECT epoch_ms(MAX(p_ts)) FROM p),
        |                    (SELECT epoch_ms(MAX(v_ts)) FROM v))
        |              - 7200000 AS w_ms),
        |matched AS (
        |  SELECT p.user_id, p.p_id, v.v_id
        |  FROM p JOIN v ON p.user_id = v.v_user
        |   AND v.v_ts >= p.p_ts - INTERVAL 1 HOUR
        |   AND v.v_ts <= p.p_ts + INTERVAL 1 HOUR),
        |evicted_p AS (
        |  SELECT p.user_id, p.p_id, NULL::BIGINT AS v_id
        |  FROM p, wm
        |  WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.p_id = p.p_id)
        |    AND epoch_ms(p.p_ts) + 3600000 < wm.w_ms),
        |evicted_v AS (
        |  SELECT v.v_user AS user_id, NULL::BIGINT AS p_id, v.v_id
        |  FROM v, wm
        |  WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.v_id = v.v_id)
        |    AND epoch_ms(v.v_ts) + 3600000 < wm.w_ms)
        |SELECT user_id, p_id, v_id FROM matched
        |UNION ALL SELECT user_id, p_id, v_id FROM evicted_p
        |UNION ALL SELECT user_id, p_id, v_id FROM evicted_v
        |ORDER BY user_id, p_id, v_id""".stripMargin,

    // affected-group recompute ≡ the straight post-delete aggregation
    "q94_view_refresh_delete" ->
      """SELECT l_suppkey, COUNT(*) AS n,
        |  MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v
        |FROM lineitem WHERE NOT (l_orderkey % 50 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // every hash pick replayed step-for-step over the dst-sorted slots
    "g12_random_walks" -> {
      def pick(t: Int): String =
        "('0x' || substr(md5(concat_ws('-', 'graft-walk-g12', " +
          "CAST(f.start_node AS VARCHAR), CAST(f.walk AS VARCHAR), " +
          s"'$t')), 1, 15))::BIGINT % a.deg"
      def stepCte(t: Int): String =
        s"""f$t AS (
           |  SELECT f.start_node, f.walk, a.dst AS cur
           |  FROM f${t - 1} f JOIN adj a
           |    ON a.src = f.cur AND a.slot = ${pick(t)})""".stripMargin
      s"""WITH e AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT CAST(l_suppkey AS BIGINT) AS src,
         |           CAST(l_partkey AS BIGINT) + 1000000 AS dst FROM lineitem
         |    UNION ALL
         |    SELECT CAST(l_partkey AS BIGINT) + 1000000,
         |           CAST(l_suppkey AS BIGINT) FROM lineitem)
         |  WHERE src <> dst),
         |adj AS (
         |  SELECT src, dst,
         |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS slot,
         |    COUNT(*) OVER (PARTITION BY src) AS deg
         |  FROM e),
         |f0 AS (
         |  SELECT s.src AS start_node, w.walk, s.src AS cur
         |  FROM (SELECT DISTINCT src FROM e) s,
         |       (SELECT UNNEST([0, 1]) AS walk) w),
         |${(1 to 3).map(stepCte).mkString(",\n")}
         |SELECT start_node, walk, step, node FROM (
         |  ${(0 to 3).map(t =>
             s"SELECT start_node, walk, $t AS step, cur AS node FROM f$t")
             .mkString("\n  UNION ALL ")})
         |ORDER BY start_node, walk, step""".stripMargin
    },

    // bloom skipping is lossless: the result IS the equality scan
    "q95_bloom_index" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_custkey = (SELECT MIN(o_custkey) FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // catalog version v ≡ the batch-prefix world: docs with
    // doc_id % 4 <= v-1, searched through that version's index and
    // counted through that version's manifest
    "s41_stream_catalog" -> {
      val dup = s"CASE WHEN length(trim(text)) = 0 THEN FALSE " +
        s"ELSE list_contains(${OracleSql.toks("text")}, 'dup') END"
      (1 to 4).map { v =>
        s"""SELECT CAST($v AS INT) AS version, doc_id,
           |  (SELECT COUNT(*) FROM documents WHERE doc_id % 4 <= ${v - 1})
           |    AS table_rows
           |FROM documents
           |WHERE doc_id % 4 <= ${v - 1} AND $dup""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY version, doc_id")
    },

    // catalog version v ≡ the takedown-prefix world: batches 0..v-1
    // erased doc_id % 9 ∈ {0..v-1}, so live rows have doc_id % 9 >= v;
    // the rolled view and the DV-subtracted live count move together
    "s42_stream_takedown" -> (1 to 4).map { v =>
      s"""SELECT CAST($v AS INT) AS version, source, COUNT(*) AS n,
         |  CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  (SELECT COUNT(*) FROM documents WHERE doc_id % 9 >= $v)
         |    AS live_rows
         |FROM documents WHERE doc_id % 9 >= $v
         |GROUP BY source""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY version, source"),

    // catalog version v ≡ the batch-prefix world: arrived = doc_id % 4
    // <= v-1; erased = the unique j = doc_id % 9 lies in 1..v-1 AND the
    // doc had already arrived by batch j (doc_id % 4 <= j-1)
    "s43_stream_lake_view" -> {
      def live(v: Int): String =
        s"""(doc_id % 4 <= ${v - 1}
           | AND NOT (doc_id % 9 >= 1 AND doc_id % 9 <= ${v - 1}
           |          AND doc_id % 4 <= doc_id % 9 - 1))""".stripMargin
      (1 to 4).map { v =>
        s"""SELECT CAST($v AS INT) AS version, source, COUNT(*) AS n,
           |  CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |  MIN(n_chars) AS min_v, MAX(n_chars) AS max_v,
           |  (SELECT COUNT(*) FROM documents WHERE ${live(v)})
           |    AS live_rows
           |FROM documents WHERE ${live(v)}
           |GROUP BY source""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY version, source")
    },

    // the retained catalog versions read their batch-prefix worlds
    // unchanged after the reference-based GC
    "q121_catalog_vacuum" -> (3 to 4).map { v =>
      s"""SELECT CAST($v AS INT) AS version, source, COUNT(*) AS n
         |FROM documents WHERE doc_id % 4 <= ${v - 1}
         |GROUP BY source""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY version, source"),

    // each catalog version is a consistent (manifest, index) world:
    // v1 ≡ the epoch-1 slice searched AND counted, v2 ≡ the whole table
    "q116_catalog_commit" ->
      s"""SELECT CAST(1 AS INT) AS version, doc_id, source,
         |  (SELECT COUNT(*) FROM documents WHERE doc_id % 2 = 0) AS table_rows
         |FROM documents
         |WHERE doc_id % 2 = 0
         |  AND CASE WHEN length(trim(text)) = 0 THEN FALSE
         |           ELSE list_contains(${OracleSql.toks("text")}, 'dup') END
         |UNION ALL
         |SELECT CAST(2 AS INT), doc_id, source,
         |  (SELECT COUNT(*) FROM documents)
         |FROM documents
         |WHERE CASE WHEN length(trim(text)) = 0 THEN FALSE
         |           ELSE list_contains(${OracleSql.toks("text")}, 'dup') END
         |ORDER BY version, doc_id""".stripMargin,

    // lossless through the bloom: the result ≡ the full-scan token-
    // membership predicate under the engine's one tokenizer
    "q115_token_bloom" ->
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE CASE WHEN length(trim(text)) = 0 THEN FALSE
         |           ELSE list_contains(${OracleSql.toks("text")}, 'dup') END
         |ORDER BY doc_id""".stripMargin,

    // the takedown-mutated search: q115's result minus the erased keys
    "q118_token_bloom_deletes" ->
      s"""SELECT doc_id, source, n_chars FROM documents
         |WHERE doc_id % 3 <> 0
         |  AND CASE WHEN length(trim(text)) = 0 THEN FALSE
         |           ELSE list_contains(${OracleSql.toks("text")}, 'dup') END
         |ORDER BY doc_id""".stripMargin,

    // cells, density threshold, 8-neighborhood closure, assignment —
    // the merge replayed as a recursive min-label reachability CTE
    "e26_grid_density" ->
      """WITH RECURSIVE pts AS (
        |  SELECT CAST(vec_id AS BIGINT) AS id,
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000.0 / 100.0) AS BIGINT) AS cx,
        |    CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000.0 / 100.0) AS BIGINT) AS cy
        |  FROM embeddings),
        |dense AS (
        |  SELECT cx, cy, cx * 1000000 + cy AS cell
        |  FROM pts GROUP BY cx, cy HAVING COUNT(*) >= 20),
        |offs AS (
        |  SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
        |    (0,1),(1,-1),(1,0),(1,1)) t(dx, dy)),
        |edges AS (
        |  SELECT d.cell AS a, (d.cx + o.dx) * 1000000 + d.cy + o.dy AS b
        |  FROM dense d CROSS JOIN offs o
        |  WHERE (d.cx + o.dx) * 1000000 + d.cy + o.dy IN
        |    (SELECT cell FROM dense)),
        |reach(node, lab) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        |  UNION
        |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b),
        |comp0 AS (SELECT node AS cell, MIN(lab) AS cluster_rep
        |          FROM reach GROUP BY node),
        |comp AS (SELECT cell,
        |           DENSE_RANK() OVER (ORDER BY cluster_rep) - 1 AS cluster
        |         FROM comp0)
        |SELECT p.id, CAST(COALESCE(c.cluster, -1) AS BIGINT) AS cluster
        |FROM pts p
        |LEFT JOIN dense d ON d.cx = p.cx AND d.cy = p.cy
        |LEFT JOIN comp c ON c.cell = d.cell
        |ORDER BY p.id""".stripMargin,

    // the growing-index fold = four unrolled admission rounds; round
    // k's corpus is documents ∪ rounds 0..k−1's admitted reps (extend
    // ≡ rebuild composed sequentially; AS MATERIALIZED in the chain
    // stops exponential CTE inlining)
    "s39_stream_growing_admit" -> {
      val B = 10000000L
      def batchSql(k: Int): String = {
        val base =
          s"""SELECT doc_id + ${B * k + 4000000L} AS doc_id,
             |    reverse(text) AS text
             |  FROM documents WHERE doc_id % 10 = 5 AND (doc_id // 10) % 4 = $k
             |UNION ALL
             |SELECT doc_id + ${B * k + 1000000L},
             |    text || ' zzz extra suffix'
             |  FROM documents WHERE doc_id % 10 = 3 AND (doc_id // 10) % 4 = $k"""
            .stripMargin
        if (k == 0) base
        else base +
          s"""
             |UNION ALL
             |SELECT doc_id + ${B * k + 2000000L},
             |    reverse(text) || ' zzz extra suffix'
             |  FROM documents WHERE doc_id % 10 = 5 AND (doc_id // 10) % 4 = ${k - 1}
             |UNION ALL
             |SELECT doc_id + ${B * k + 3000000L}, reverse(text)
             |  FROM documents WHERE doc_id % 10 = 5 AND (doc_id // 10) % 4 = ${k - 1}"""
            .stripMargin
      }
      def corpusSql(k: Int): String =
        (Seq("SELECT doc_id, text FROM documents") ++
          (0 until k).map(j => s"SELECT doc_id, text FROM p${j}adm"))
          .mkString("\nUNION ALL ")
      val rounds = (0 until 4).map(k =>
        OracleSql.nearDupAdmitCtes(s"p$k", corpusSql(k), batchSql(k),
          k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000))
        .mkString(",\n")
      s"""WITH $rounds
         |SELECT doc_id, text FROM (
         |  SELECT doc_id, text FROM p0adm
         |  UNION ALL SELECT doc_id, text FROM p1adm
         |  UNION ALL SELECT doc_id, text FROM p2adm
         |  UNION ALL SELECT doc_id, text FROM p3adm)
         |ORDER BY doc_id""".stripMargin
    },

    // the growing VECTOR fold = four unrolled admission rounds over
    // accumulating corpora (s39's oracle shape on the hyperplane chain)
    "s40_stream_vector_growing" -> {
      val B = 10000000L
      def batchSql(k: Int): String = {
        val base =
          s"""SELECT vec_id + ${B * k + 4000000L} AS vec_id,
             |    list_reverse(CAST(embedding AS DOUBLE[])) AS v
             |  FROM embeddings
             |  WHERE vec_id % 10 = 5 AND (vec_id // 10) % 4 = $k
             |UNION ALL
             |SELECT vec_id + ${B * k + 1000000L},
             |    list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.0001)
             |  FROM embeddings
             |  WHERE vec_id % 10 = 3 AND (vec_id // 10) % 4 = $k""".stripMargin
        if (k == 0) base
        else base +
          s"""
             |UNION ALL
             |SELECT vec_id + ${B * k + 2000000L},
             |    list_transform(list_reverse(CAST(embedding AS DOUBLE[])),
             |                   x -> x + 0.0001)
             |  FROM embeddings
             |  WHERE vec_id % 10 = 5 AND (vec_id // 10) % 4 = ${k - 1}
             |UNION ALL
             |SELECT vec_id + ${B * k + 3000000L},
             |    list_reverse(CAST(embedding AS DOUBLE[]))
             |  FROM embeddings
             |  WHERE vec_id % 10 = 5 AND (vec_id // 10) % 4 = ${k - 1}"""
            .stripMargin
      }
      def corpusSql(k: Int): String =
        (Seq(OracleSql.CorpusIdV) ++
          (0 until k).map(j => s"SELECT id, v FROM p${j}adm"))
          .mkString("\nUNION ALL ")
      val rounds = (0 until 4).map(k =>
        OracleSql.vectorAdmitCtes(s"p$k", corpusSql(k), batchSql(k),
          bits = 6, dim = 64, tau = 0.8, maxBucket = 1000))
        .mkString(",\n")
      s"""WITH $rounds
         |SELECT id AS vec_id FROM (
         |  SELECT id FROM p0adm
         |  UNION ALL SELECT id FROM p1adm
         |  UNION ALL SELECT id FROM p2adm
         |  UNION ALL SELECT id FROM p3adm)
         |ORDER BY vec_id""".stripMargin
    },

    // per-query independence makes streamed probing equal the whole-set
    // probe — one knnProbe replay over the reversed-embedding queries
    "s38_stream_knn_enrich" ->
      s"""WITH ${OracleSql.ivfKnnProbeCtes(nlist = 8, nprobe = 2, k = 5,
             "SELECT vec_id + 1000000 AS id, " +
               "list_reverse(CAST(embedding AS DOUBLE[])) AS v " +
               "FROM embeddings WHERE vec_id % 5 = 2")}
         |SELECT id, rank, nid, cos FROM knn
         |ORDER BY id, rank""".stripMargin,

    // the streaming fold against a STATIC index equals the whole-set
    // admission — d43's oracle verbatim (pre-collapse is a fixed point
    // of the filter's own collapse stage)
    "s25_stream_neardup_admit" -> OracleSql.nearDupIncremental(
      "SELECT doc_id, text FROM documents",
      """SELECT doc_id + 2000000 AS doc_id, text || ' zzz extra suffix' AS text
        |  FROM documents WHERE doc_id % 10 = 3
        |UNION ALL SELECT doc_id + 3000000, text
        |  FROM documents WHERE doc_id % 10 = 7
        |UNION ALL SELECT doc_id + 4000000, reverse(text)
        |  FROM documents WHERE doc_id % 10 = 5""".stripMargin,
      k = 12, bands = 6, shingleSize = 3, tau = 0.5, maxBucket = 1000),

    // the three-stage front door replayed whole-set: near-dup admission
    // (s25's oracle as a nested-WITH subquery), contamination filter
    // over the survivors, then the plain-window budget prefix — CTE
    // scoping is lexical, so the nested oracle sees the outer cand0
    "s32_front_door_pipeline" ->
      s"""WITH $frontDoorCtes
         |SELECT doc_id, source, n_tokens FROM adm
         |ORDER BY doc_id""".stripMargin,

    // the capstone stream ≡ three whole-set artifacts over the SAME
    // admitted set: the s33-style shard table and s35-style pack index
    // (windows keyed by the arrival batch, then (h64, id)), and the
    // published main branch's per-commit slice signatures — base commit
    // = the even reference corpus, one commit per batch with survivors
    "s36_ingest_to_shards" -> {
      val ghS = OracleSql.h64("'graft-shuffle-' || CAST(doc_id AS VARCHAR)")
      val ghP = OracleSql.h64("'graft-pack-' || CAST(doc_id AS VARCHAR)")
      s"""WITH $frontDoorCtes,
         |admt AS (
         |  SELECT a.doc_id, a.n_tokens, c.text,
         |    CASE WHEN a.doc_id < 3000000 THEN 0
         |         WHEN a.doc_id < 4000000 THEN 1
         |         WHEN a.doc_id < 4000250 THEN 2 ELSE 3 END AS batch
         |  FROM adm a JOIN cand0 c USING (doc_id)),
         |sh AS (SELECT doc_id, $ghS AS gh, n_tokens, batch FROM admt),
         |shard_rows AS (
         |  SELECT 'shard' AS part, doc_id, CAST(gh % 8 AS BIGINT) AS v1,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY gh % 8
         |      ORDER BY batch, gh, doc_id) AS BIGINT) AS v2,
         |    n_tokens AS v3
         |  FROM sh),
         |pk AS (
         |  SELECT doc_id, $ghP AS gp,
         |    octet_length(encode(text)) AS len, batch FROM admt),
         |pack_rows AS (
         |  SELECT 'pack' AS part, doc_id, CAST(gp % 4 AS BIGINT) AS v1,
         |    CAST(COALESCE(SUM(len) OVER (PARTITION BY gp % 4
         |      ORDER BY batch, gp, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS v2,
         |    CAST(len AS BIGINT) AS v3
         |  FROM pk),
         |commit_rows AS (
         |  SELECT 'commit' AS part, MIN(doc_id) AS doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS v1, MAX(doc_id) AS v2,
         |    CAST(SUM(length(text)) AS BIGINT) AS v3
         |  FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL
         |  SELECT 'commit', MIN(doc_id), CAST(COUNT(*) AS BIGINT),
         |    MAX(doc_id), CAST(SUM(length(text)) AS BIGINT)
         |  FROM admt GROUP BY batch)
         |SELECT part, doc_id, v1, v2, v3 FROM shard_rows
         |UNION ALL SELECT part, doc_id, v1, v2, v3 FROM pack_rows
         |UNION ALL SELECT part, doc_id, v1, v2, v3 FROM commit_rows
         |ORDER BY part, doc_id""".stripMargin
    },

    // the media-ingest capstone replayed whole-set: batches are a
    // row_number over the fixture's (grp, id) mtime order; exactly-once
    // exact dedup = first (batch, id) row per PAYLOAD CLASS gen % 768 —
    // the synthetic pixel/dims formulas are periodic with lcm(64,48,
    // 256) = 768, so byte-equality is exactly residue equality (classes
    // deliberately collide ACROSS fixture roles, which is what makes
    // the grown-fingerprint exactly-once semantics observable); the
    // Hamming admission replays m5's closed-form dhash over the classes
    // (brute-force — corpus buckets are far below the cap);
    // raster length = w·h (lossless gray PNG decode), so pack offsets
    // and commit signatures are exact
    "s37_media_ingest" -> {
      val gp = OracleSql.h64("'graft-pack-' || CAST(id AS VARCHAR)")
      """WITH base AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id < 500 AND doc_id % 3 = 0),
        |corpus AS (SELECT doc_id AS id, doc_id AS gen FROM base
        |           WHERE doc_id % 6 = 0),
        |allin AS (
        |  SELECT doc_id + 2000000 AS id, doc_id AS gen, 0 AS grp
        |    FROM base WHERE doc_id % 12 = 0
        |  UNION ALL SELECT doc_id + 3000000, doc_id + 768192, 1
        |    FROM base WHERE doc_id % 12 = 6
        |  UNION ALL SELECT doc_id + 4000000, doc_id + 6000003, 2
        |    FROM base WHERE doc_id % 12 = 3
        |  UNION ALL SELECT doc_id + 4500000, doc_id + 6000003, 2
        |    FROM base WHERE doc_id % 24 = 3
        |  UNION ALL SELECT doc_id + 5000000, CAST(NULL AS BIGINT), 3
        |    FROM base WHERE doc_id % 12 = 9),
        |ranked AS (
        |  SELECT id, gen, grp,
        |    CAST((ROW_NUMBER() OVER (ORDER BY grp, id) - 1) // 25 AS INT)
        |      AS batch
        |  FROM allin),
        |firsts AS (
        |  SELECT id, gen, gen % 768 AS pcls, batch FROM (
        |    SELECT id, gen, batch,
        |      ROW_NUMBER() OVER (PARTITION BY gen % 768
        |        ORDER BY batch, id) AS rn
        |    FROM ranked WHERE grp <> 3)
        |  WHERE rn = 1 AND gen % 768 NOT IN (SELECT gen FROM corpus)),
        |cd AS (SELECT gen, gen % 64 + 1 AS w, gen % 48 + 1 AS h FROM corpus),
        |fd AS (SELECT gen, gen % 64 + 1 AS w, gen % 48 + 1 AS h
        |       FROM (SELECT DISTINCT pcls AS gen FROM firsts)),
        |cbits AS (
        |  SELECT gen, y * 8 + x AS b
        |  FROM cd, range(0, 8) tx(x), range(0, 8) ty(y)
        |  WHERE ((x * w // 9) * 7 + (y * h // 8) * 13 + gen * 31) % 256
        |      > (((x + 1) * w // 9) * 7 + (y * h // 8) * 13 + gen * 31) % 256),
        |fbits AS (
        |  SELECT gen, y * 8 + x AS b
        |  FROM fd, range(0, 8) tx(x), range(0, 8) ty(y)
        |  WHERE ((x * w // 9) * 7 + (y * h // 8) * 13 + gen * 31) % 256
        |      > (((x + 1) * w // 9) * 7 + (y * h // 8) * 13 + gen * 31) % 256),
        |chs AS (
        |  SELECT d.gen,
        |    CAST(COALESCE(SUM(CASE WHEN b.b = 63 THEN -9223372036854775808
        |                           ELSE (1::BIGINT << b.b) END), 0) AS BIGINT)
        |      AS ph
        |  FROM cd d LEFT JOIN cbits b ON d.gen = b.gen GROUP BY d.gen),
        |fhs AS (
        |  SELECT d.gen,
        |    CAST(COALESCE(SUM(CASE WHEN b.b = 63 THEN -9223372036854775808
        |                           ELSE (1::BIGINT << b.b) END), 0) AS BIGINT)
        |      AS ph
        |  FROM fd d LEFT JOIN fbits b ON d.gen = b.gen GROUP BY d.gen),
        |admitted AS (
        |  SELECT f.id, f.gen, f.batch
        |  FROM firsts f JOIN fhs ON fhs.gen = f.pcls
        |  WHERE NOT EXISTS (SELECT 1 FROM chs
        |                    WHERE bit_count(xor(chs.ph, fhs.ph)) <= 3)),
        |pk AS (
        |  SELECT id, GPEXPR AS gpv,
        |    (gen % 64 + 1) * (gen % 48 + 1) AS len, batch
        |  FROM admitted),
        |pack_rows AS (
        |  SELECT 'pack' AS part, id AS media_id,
        |    CAST(gpv % 4 AS BIGINT) AS v1,
        |    CAST(COALESCE(SUM(len) OVER (PARTITION BY gpv % 4
        |      ORDER BY batch, gpv, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS v2,
        |    CAST(len AS BIGINT) AS v3
        |  FROM pk),
        |commit_rows AS (
        |  SELECT 'commit' AS part, MIN(id) AS media_id,
        |    CAST(COUNT(*) AS BIGINT) AS v1, MAX(id) AS v2,
        |    CAST(SUM((gen % 64 + 1) * (gen % 48 + 1)) AS BIGINT) AS v3
        |  FROM corpus
        |  UNION ALL
        |  SELECT 'commit', MIN(id), CAST(COUNT(*) AS BIGINT), MAX(id),
        |    CAST(SUM((gen % 64 + 1) * (gen % 48 + 1)) AS BIGINT)
        |  FROM admitted GROUP BY batch),
        |quar_rows AS (
        |  SELECT 'quar' AS part, id AS media_id, CAST(0 AS BIGINT) AS v1,
        |    CAST(0 AS BIGINT) AS v2, CAST(0 AS BIGINT) AS v3
        |  FROM ranked WHERE grp = 3)
        |SELECT part, media_id, v1, v2, v3 FROM pack_rows
        |UNION ALL SELECT part, media_id, v1, v2, v3 FROM commit_rows
        |UNION ALL SELECT part, media_id, v1, v2, v3 FROM quar_rows
        |ORDER BY part, media_id""".stripMargin
        .replace("GPEXPR", gp)
    },

    // the streaming admission against the FROZEN benchmark fingerprints
    // equals the whole-set filter — d22's overlap algebra with the
    // admission threshold applied
    "s31_stream_contamination_admit" -> {
      val candSql =
        """SELECT doc_id + 2000000 AS doc_id, text FROM documents
          |  WHERE doc_id % 2 = 1 AND doc_id % 10 = 1
          |UNION ALL
          |SELECT doc_id + 3000000, text || ' zzz tail pad' FROM documents
          |  WHERE doc_id % 2 = 1 AND doc_id % 10 = 3
          |UNION ALL
          |SELECT doc_id + 4000000, reverse(text) FROM documents
          |  WHERE doc_id % 10 = 4""".stripMargin
      val benchSql = "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1"
      s"""WITH cfps AS (${OracleSql.winnow(candSql, 5, 4)}),
         |bfps AS (SELECT DISTINCT fp FROM (${OracleSql.winnow(benchSql, 5, 4)})),
         |agg AS (
         |  SELECT c.doc_id, COUNT(*) AS n_fps,
         |    CAST(SUM(CASE WHEN b.fp IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_hits
         |  FROM cfps c LEFT JOIN bfps b ON c.fp = b.fp
         |  GROUP BY 1)
         |SELECT doc_id, n_fps, n_hits,
         |  CAST(n_hits AS DOUBLE) / CAST(n_fps AS DOUBLE) AS contamination
         |FROM agg
         |WHERE CAST(n_hits AS DOUBLE) / CAST(n_fps AS DOUBLE) < 0.5
         |ORDER BY doc_id""".stripMargin
    },

    // the streaming vector fold against the static LSH corpus equals
    // the whole-set admission — candidates pre-collapsed to one rep per
    // distinct vector, each tested against the corpus only
    "s29_stream_vector_admit" -> OracleSql.vectorAdmitSql(
      """SELECT vec_id + 2000000 AS vec_id,
        |       list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.0001) AS v
        |FROM embeddings WHERE vec_id % 10 = 3
        |UNION ALL
        |SELECT vec_id + 3000000, CAST(embedding AS DOUBLE[])
        |FROM embeddings WHERE vec_id % 10 = 7
        |UNION ALL
        |SELECT vec_id + 4000000, list_reverse(CAST(embedding AS DOUBLE[]))
        |FROM embeddings WHERE vec_id % 10 = 5""".stripMargin,
      bits = 6, dim = 64, tau = 0.8, maxBucket = 1000),

    // tombstone delete ≡ rebuild over survivors: the e7 replay with the
    // deleted ids absent from BOTH the query and the candidate side
    "e25_ivf_remove" ->
      s"""WITH ${OracleSql.ivfKnnCtes(nlist = 8, nprobe = 2, k = 5,
            candWhere = "el.vec_id % 7 <> 0")}
         |SELECT id, rank, nid, cos FROM knn
         |WHERE id % 7 <> 0
         |ORDER BY id, rank""".stripMargin,

    // the full maintenance cycle ≡ one rebuild-shaped replay over
    // (build ∪ day-2 batch) − takedowns, centroid panel frozen at the
    // BUILD's seeds (addVectors/remove never refit — the e14/e25
    // equality arguments composed through two disk round trips)
    "e30_ivf_maintenance_cycle" -> {
      val vSql =
        """SELECT id, v FROM (
          |    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          |    FROM embeddings
          |    UNION ALL
          |    SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
          |    FROM embeddings WHERE vec_id % 10 = 5)
          |  WHERE id % 7 <> 0""".stripMargin
      s"""WITH ${OracleSql.ivfKnnCtesOver(nlist = 8, nprobe = 2, k = 5, vSql)}
         |SELECT id, rank, nid, cos FROM knn
         |ORDER BY id, rank""".stripMargin
    },

    // the vector-LSH lifecycle ≡ two nested admission replays: day 1
    // against the full corpus, day 2 against (surviving exact-vector
    // groups) ∪ day-1 admissions — extend and remove must be
    // indistinguishable from that rebuild
    "e31_vector_admission_cycle" -> {
      val groups = "SELECT CAST(embedding AS DOUBLE[]) AS v, " +
        "MIN(vec_id) AS rep FROM embeddings GROUP BY 1"
      val batch1 =
        """SELECT vec_id + 4000000 AS vec_id,
          |       list_reverse(CAST(embedding AS DOUBLE[])) AS v
          |FROM embeddings WHERE vec_id % 10 = 5""".stripMargin
      val corpus2 =
        s"""SELECT id, v FROM (${OracleSql.CorpusIdV})
           |WHERE v IN (SELECT v FROM ($groups) WHERE rep % 9 <> 4)
           |UNION ALL SELECT id, v FROM d1adm""".stripMargin
      val batch2 =
        s"""SELECT rep + 8000000 AS vec_id, v
           |  FROM ($groups) WHERE rep % 9 = 4
           |UNION ALL
           |SELECT vec_id + 9000000, list_reverse(CAST(embedding AS DOUBLE[]))
           |FROM embeddings WHERE vec_id % 10 = 5
           |UNION ALL
           |SELECT vec_id + 2000000,
           |       list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.0001)
           |FROM embeddings WHERE vec_id % 10 = 3
           |UNION ALL
           |SELECT vec_id + 7000000, list_reverse(CAST(embedding AS DOUBLE[]))
           |FROM embeddings WHERE vec_id % 10 = 6""".stripMargin
      s"""WITH ${OracleSql.vectorAdmitCtes("d1", OracleSql.CorpusIdV, batch1,
             bits = 6, dim = 64, tau = 0.8, maxBucket = 1000)},
         |${OracleSql.vectorAdmitCtes("", corpus2, batch2,
             bits = 6, dim = 64, tau = 0.8, maxBucket = 1000)}
         |SELECT id AS vec_id FROM adm
         |ORDER BY vec_id""".stripMargin
    },

    // v1 = the plain e7 replay; v2 = the e30-shaped maintenance replay —
    // both versions readable at once (prefixed chains)
    "e33_ivf_versioned" -> {
      val v2Sql =
        """SELECT id, v FROM (
          |    SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          |    FROM embeddings
          |    UNION ALL
          |    SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
          |    FROM embeddings WHERE vec_id % 10 = 5)
          |  WHERE id % 7 <> 0""".stripMargin
      s"""WITH ${OracleSql.ivfKnnCtesPrefixed("a", nlist = 8, nprobe = 2,
             k = 5, OracleSql.CorpusIdV)},
         |${OracleSql.ivfKnnCtesPrefixed("b", nlist = 8, nprobe = 2,
             k = 5, v2Sql)}
         |SELECT 'v1' AS part, id, rank, nid, cos FROM aknn
         |UNION ALL SELECT 'v2', id, rank, nid, cos FROM bknn
         |ORDER BY part, id, rank""".stripMargin
    },

    // the SQL retrieval verb must land exactly on the Scala op's plan —
    // s38's query-side replay verbatim
    "e32_sql_knn_probe" ->
      s"""WITH ${OracleSql.ivfKnnProbeCtes(nlist = 8, nprobe = 2, k = 5,
             "SELECT vec_id + 1000000 AS id, " +
               "list_reverse(CAST(embedding AS DOUBLE[])) AS v " +
               "FROM embeddings WHERE vec_id % 5 = 2")}
         |SELECT id, rank, nid, cos FROM knn
         |ORDER BY id, rank""".stripMargin
  )
}
