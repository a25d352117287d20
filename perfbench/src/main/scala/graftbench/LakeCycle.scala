package graftbench

import scala.collection.mutable

import graft.io.{DataFrameIO, SourceParams}
import graft.ops.{Catalog, Layout, TableDigest}
import graft.plans.ScanPruneRewrite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One writer appending seeded lineitem Batches to a manifest + deletion
  * vector + catalog table, with reads after every commit. A round is one
  * table lifetime: `Batches` commits, then a delete compaction and its
  * commit, on a fresh table root — so every round writes and reads the
  * same amount. */
final class LakeCycle(ctx: Ctx) extends Workload {
  import LakeCycle._

  private val spark = ctx.spark
  private val tables = new Tables(spark, ctx.seed)
  private val lat = new Samples
  private var opId = 0L
  private var rowsIngested = 0L
  private var writeWall = 0.0
  private var lakeBytes = 0L
  private var userBytes = 0L
  private var readsOk = 0L
  private var reads = 0L
  private val plan = new Plan(20000)

  /** Everything one table lifetime needs: staged user Batches, the keys
    * each batch deletes, the read schedule and every read's answer. */
  private final class Plan(val batchRows: Long) {
    def staged(b: Int) = ctx.path(s"lake_in/b$b")
    val deletes: IndexedSeq[Seq[Long]] = (0 until Batches).map { b =>
      val rnd = new scala.util.Random(ctx.seed * 131 + b)
      val orders = b * batchRows / 4
      if (b == 0) Nil else Seq.fill(DeletesPerBatch)(1 + (rnd.nextDouble() * orders).toLong).distinct
    }
    /** Reads after commit c (c = Batches is the compaction commit). */
    val schedule: IndexedSeq[IndexedSeq[Read]] = (0 to Batches).map { c =>
      val rnd = new scala.util.Random(ctx.seed * 977 + c)
      val orders = math.min(c + 1, Batches) * batchRows / 4
      (0 until ReadsPerCommit).map(i => ReadKinds((c * ReadsPerCommit + i) % ReadKinds.size)).map { kind =>
        val width = math.max(1L, (orders * 0.08).toLong)
        val lo = 1 + (rnd.nextDouble() * (orders - width)).toLong
        Read(kind, lo, lo + width, if (kind == "asof") rnd.nextInt(c + 1) else c)
      }.toIndexedSeq
    }
    var bytes = 0L
    var answers: Map[(Int, Int), (Long, String)] = Map.empty

    def generate(): Unit = {
      (0 until Batches).foreach { b =>
        tables.lakeLineitem(tables.ids(b * batchRows, (b + 1) * batchRows, FilesPerBatch))
          .write.parquet(staged(b))
      }
      bytes = (0 until Batches).map(b => Files.du(staged(b))).sum
      answers = groundTruth()
    }

    /** Every scheduled read's (rows, digest) from the staged Batches in
      * plain Spark: rows of Batches ≤ the read's version, minus keys
      * deleted by then — except that reads without deletion vectors see
      * deleted rows until compaction removes them. */
    private def groundTruth(): Map[(Int, Int), (Long, String)] = {
      val staged = (0 until Batches).map(b => spark.read.parquet(this.staged(b))
        .withColumn("g_b", lit(b))).reduce(_ unionByName _)
      val dataCols = staged.columns.filterNot(_ == "g_b").toSeq
      val deleted = spark.createDataFrame(
        java.util.Arrays.asList(deletes.zipWithIndex.flatMap { case (ks, d) =>
          ks.map(k => Row(k, d)) }: _*),
        StructType(Seq(StructField("l_orderkey", LongType), StructField("g_d", IntegerType))))
        .groupBy("l_orderkey").agg(min("g_d").as("g_d"))
      val spec = for {
        (rs, c) <- schedule.zipWithIndex
        (r, i) <- rs.zipWithIndex
      } yield {
        val v = r.version
        val physical = r.kind == "pruned" || r.kind == "sql"
        val deletesUpTo = if (physical && v < Batches) -1 else math.min(v, Batches - 1)
        Row(c * 100 + i, r.lo, r.hi, math.min(v, Batches - 1), deletesUpTo)
      }
      val readsDf = spark.createDataFrame(java.util.Arrays.asList(spec: _*), StructType(Seq(
        StructField("rid", IntegerType), StructField("lo", LongType), StructField("hi", LongType),
        StructField("vb", IntegerType), StructField("vd", IntegerType))))
      val rowHash = graft.functions.TextFunctions.h64(
        concat_ws("|", dataCols.map(c => col(c).cast("string")): _*))
      val got = staged.join(broadcast(deleted), Seq("l_orderkey"), "left")
        .join(broadcast(readsDf), col("l_orderkey").between(col("lo"), col("hi")) &&
          col("g_b") <= col("vb") && (col("g_d").isNull || col("g_d") > col("vd")))
        .groupBy("rid").agg(count(lit(1)), sum(rowHash.cast("decimal(38,0)")))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), String.valueOf(r.getDecimal(2)))).toMap
      spec.map { r =>
        val rid = r.getInt(0)
        (rid / 100, rid % 100) -> got.getOrElse(rid, (0L, "null"))
      }.toMap
    }
  }

  def setup(): Unit = plan.generate()

  def inputRows: Long = Batches * plan.batchRows
  def inputBytes: Long = plan.bytes

  private lazy val emptyDv = spark.createDataFrame(java.util.Collections.emptyList[Row](),
    StructType(Seq(StructField("file", StringType), StructField("pos", LongType))))

  private def persist(df: DataFrame, path: String): DataFrame = {
    DataFrameIO.write(df, SourceParams("parquet", Some(path), saveMode = Some("overwrite")))(spark)
    spark.read.parquet(path)
  }

  /** The table's columns, in the order the digest hashes them. */
  private lazy val dataCols = spark.read.parquet(plan.staged(0)).columns.toSeq

  private def digest(df: DataFrame): (Long, String) = {
    val r = TableDigest.digest(df, dataCols).collect()(0)
    (r.getLong(0), String.valueOf(r.getDecimal(1)))
  }

  /** One table lifetime. */
  private def cycle(tag: String, checks: Checks, timed: Boolean): Unit = {
    val root = ctx.path(s"lake/$tag")
    val catalog = s"$root/catalog"
    var dir = s"$root/data_0"
    var manifest: DataFrame = null
    var dv: DataFrame = emptyDv
    val commitTs = mutable.ArrayBuffer.empty[Long]
    val filesAt = mutable.ArrayBuffer.empty[Int]
    var registered = -1

    def commit(c: Int): Unit = {
      Catalog.commit(spark, catalog, Map("data" -> dir, "manifest" -> s"$root/manifest/v$c",
        "dv" -> s"$root/dv/v$c"))
      commitTs += System.currentTimeMillis()
      if (ctx.traced) filesAt += Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    }

    // the warm-up table reads twice per commit, which covers every kind
    def readAll(c: Int): Unit = plan.schedule(c).zipWithIndex
      .take(if (timed) ReadsPerCommit else 2).foreach { case (r, i) => read(c, r, i) }

    def read(c: Int, r: Read, i: Int): Unit = {
      opId += 1
      checks.op(s"$tag read $c.$i ${r.kind}") {
        val range = col("l_orderkey").between(r.lo, r.hi)
        val (got, s) = Workload.timed { ctx.span("op.read", opId) {
          r.kind match {
            case "pruned" => ctx.span("ops.read") {
              digest(Layout.prunedRead(spark, dir, manifest, "l_orderkey", lit(r.lo), lit(r.hi)))
            }
            case "snapshot" => ctx.span("ops.read") {
              digest(Layout.snapshotReadWithDeletes(spark, dir, manifest, dv).filter(range))
            }
            case "asof" => ctx.span("ops.read") {
              val v = Catalog.resolveAsOf(spark, catalog, commitTs(r.version))
              val refs = Catalog.resolve(spark, catalog, v)
              if (ctx.traced) ctx.tracer.note("table_files", filesAt(v - 1))
              digest(Layout.snapshotReadWithDeletes(spark, refs("data"),
                spark.read.parquet(refs("manifest")), spark.read.parquet(refs("dv"))).filter(range))
            }
            case "sql" => ctx.span("plans.sql_read") {
              if (registered != c) {
                ScanPruneRewrite.registerFromCatalog(spark, "graftbench_lake", dir, catalog)
                ScanPruneRewrite.scan(spark, "graftbench_lake").createOrReplaceTempView("lake")
                registered = c
              }
              val q = TableDigest.digest(
                spark.sql(s"SELECT * FROM lake WHERE l_orderkey BETWEEN ${r.lo} AND ${r.hi}"), dataCols)
              val (_, planS) = Workload.timed(q.queryExecution.executedPlan)
              ctx.tracer.note("plan_s", planS)
              val row = q.collect()(0)
              (row.getLong(0), String.valueOf(row.getDecimal(1)))
            }
          }
        } }
        if (ctx.traced && r.kind != "asof") ctx.tracer.spans.last.counters("table_files") = filesAt(c)
        val want = plan.answers((c, i))
        if (timed) { lat.add("read", s); reads += 1; if (got == want) readsOk += 1 }
        if (got == want) Nil else Seq(s"(rows, digest) = $got, expected $want")
      }
    }

    (0 until Batches).foreach { b =>
      opId += 1
      checks.op(s"$tag commit $b") {
        val (_, s) = Workload.timed { ctx.span("op.commit", opId) {
          ctx.span("io.append") { spark.read.parquet(plan.staged(b)).write.mode("append").parquet(dir) }
          manifest =
            if (b == 0) ctx.span("ops.stats_manifest") {
              persist(Layout.statsManifest(spark, dir, StatsCols), s"$root/manifest/v$b")
            } else ctx.span("ops.extend_manifest") {
              persist(Layout.extendManifest(spark, dir, manifest, StatsCols), s"$root/manifest/v$b")
            }
          dv =
            if (b == 0) persist(emptyDv, s"$root/dv/v$b")
            else ctx.span("ops.deletion_vectors") {
              val keys = spark.createDataFrame(
                java.util.Arrays.asList(plan.deletes(b).map(k => Row(k)): _*),
                StructType(Seq(StructField("l_orderkey", LongType))))
              persist(dv.unionByName(
                Layout.deletionVectorsForKeysPruned(spark, dir, manifest, keys, "l_orderkey")),
                s"$root/dv/v$b")
            }
          ctx.span("ops.catalog_commit") { commit(b) }
        } }
        if (timed) { lat.add("commit", s); writeWall += s; rowsIngested += plan.batchRows }
        Nil
      }
      readAll(b)
    }

    opId += 1
    checks.op(s"$tag compaction") {
      val (_, s) = Workload.timed { ctx.span("op.compact", opId) {
        val out = s"$root/data_1"
        val residual = ctx.span("ops.compact") {
          val r = Layout.compactDeletes(spark, dir, out, dv, RewriteRatio)
          if (ctx.traced) ctx.tracer.note("bytes_rewritten", Files.du(out).toDouble)
          r
        }
        dv = persist(residual, s"$root/dv/v${Batches}")
        dir = out
        manifest = ctx.span("ops.stats_manifest") {
          persist(Layout.statsManifest(spark, dir, StatsCols), s"$root/manifest/v${Batches}")
        }
        ctx.span("ops.catalog_commit") { commit(Batches) }
      } }
      if (timed) writeWall += s
      Nil
    }
    readAll(Batches)
    ScanPruneRewrite.unregister("graftbench_lake")
    if (timed) { lakeBytes += Files.du(root); userBytes += plan.bytes }
  }

  def round(index: Int, checks: Checks, timed: Boolean): Unit =
    cycle(if (timed) s"c$index" else "warm", checks, timed)

  override def perLayer(t: Tracer): Map[String, Double] = {
    def frac(name: String) = {
      val ss = t.spans.filter(_.name == name).filter(_.counters.contains("table_files"))
      val scanned = ss.map(s => t.filesScanned(s, "/data_")).sum.toDouble
      val total = ss.map(_.counters("table_files")).sum
      if (total == 0) 0.0 else scanned / total
    }
    Map("ops.read.files_scanned_frac" -> frac("ops.read"),
      "plans.sql_read.files_scanned_frac" -> frac("plans.sql_read"))
  }

  def endToEnd: Seq[(String, Metric)] = Seq(
    "rows_per_s" -> Metric(rowsIngested / writeWall, "rows/s"),
    "op_p50_s" -> Metric(Stats.median(lat("read")), "s"),
    "write_p50_s" -> Metric(Stats.median(lat("commit")), "s"),
    "write_amp" -> Metric(lakeBytes.toDouble / userBytes, "B/B"),
    "recall" -> Metric(readsOk.toDouble / reads, "frac"))

  def samples: Map[String, Int] = Map("reads" -> lat.count("read"), "commits" -> lat.count("commit"))
}

object LakeCycle {
  final case class Read(kind: String, lo: Long, hi: Long, version: Int)

  val Batches = 2
  val ReadsPerCommit = 3
  val FilesPerBatch = 4
  val DeletesPerBatch = 150
  val StatsCols = Seq("l_orderkey", "l_shipdate")
  val ReadKinds = Seq("pruned", "snapshot", "asof", "sql")
  /** Any file with a deleted row is rewritten, so after compaction the
    * physical rows are exactly the live rows. */
  val RewriteRatio = 1e-9
}
