package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.diff.{ComparisonResult, DatasetComparator, DiffOptions}
import graft.infodiff.InfoFileDiff
import graft.io.{DataFrameIO, PathResolver, SourceParams}
import graft.schema.Flattener
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hermes-style regression suite: dataset pairs compared through the
  * CLI path (load ×2 → compare → write the diff plus `_METRICS`), with
  * `_INFO` file comparisons interleaved (outside the latency
  * population). */
final class DiffSuite(ctx: Ctx) extends Workload {
  import DiffSuite._
  import ctx.session

  private val spark = ctx.spark
  private val tables = new Tables(spark, ctx.seed)
  private val conf = spark.sparkContext.hadoopConfiguration
  private val truths = mutable.Map.empty[String, Truth]
  private val infoTruth = mutable.ArrayBuffer.empty[Int]
  private val lat = new Samples
  private var rowsCompared = 0L
  private var compareWall = 0.0
  private var bytesIn = 0L
  private var bytesOut = 0L
  private var diffRowsExpected = 0L
  private var diffRowsFound = 0L
  private var opId = 0L
  private var infoNext = 0

  private def pairDir(p: Pair) = ctx.path(s"pairs/${p.name}")

  // --- inputs -------------------------------------------------------

  private def base(p: Pair, from: Long, until: Long, files: Int): DataFrame = {
    val ids = tables.ids(from, until, files)
    p.table match {
      case "customer" => tables.customer(ids)
      case "orders" => tables.orders(ids)
      case "lineitem" => tables.lineitem(ids, math.max(p.rows / 4, 1L))
      case "nested" => tables.nestedOrders(ids)
    }
  }

  /** A changed value of the same type. */
  private def changed(c: Column, t: DataType): Column = t match {
    case StringType => concat(c, lit("~"))
    case DateType => date_add(c, 1)
    case d: DecimalType => (c + 1).cast(d)
    case _ => (c + 1).cast(t)
  }

  private def edits(p: Pair, schema: StructType): Seq[Edit] = {
    def plain(name: String) = Edit(name, "", changed(col(name), schema(name).dataType))
    def item(field: String, t: DataType) = Edit("items", field,
      transform(col("items"), (x, i) =>
        when(i === col("g_j"), x.withField(field, changed(x.getField(field), t))).otherwise(x)))
    p.table match {
      case "customer" => Seq("c_address", "c_acctbal", "c_phone", "c_comment").map(plain)
      case "orders" => Seq("o_totalprice", "o_orderdate", "o_clerk", "o_comment").map(plain)
      case "lineitem" => Seq("l_quantity", "l_extendedprice", "l_shipdate", "l_comment").map(plain)
      case "nested" => Seq(plain("o_totalprice"), item("l_quantity", DecimalType(12, 2)),
        item("l_shipmode", StringType))
    }
  }

  /** Writes one pair and returns its ground truth, computed in plain
    * Spark from the generator's own edit flags. */
  private def generate(p: Pair): Truth = {
    val dir = pairDir(p)
    val ref = base(p, 0, p.rows, p.files)
    ref.write.parquet(s"$dir/ref")
    if (p.mode == "identical") {
      base(p, 0, p.rows, p.files + 1).write.parquet(s"$dir/new")
      return Truth(p.rows, p.rows, Map.empty, 0, 0, Files.du(s"$dir/ref") + Files.du(s"$dir/new"))
    }
    val es = edits(p, ref.schema)
    val hashCols = if (p.keys.nonEmpty) p.keys.map(col)
                   else ref.columns.toSeq.map(col)
    def hashOf(salt: String) = xxhash64(hashCols ++ Seq(lit(ctx.seed), lit(salt)): _*)
    val isDel = col("g_u") < p.delPm
    val isEdit = !isDel && col("g_u") < p.delPm + p.editPm
    // the truth is counted from the generator's own flags while the
    // actual side is written: deletes, and edits per flat column
    val perCol = es.zipWithIndex.flatMap { case (e, i) =>
      val edited = isEdit && col("g_w") === i
      if (e.field.isEmpty) Seq((e.target, s"e$i", count(when(edited, 1))))
      else (0 until 7).map(j => (s"${e.target}_${j}_${e.field}", s"e${i}_$j",
        count(when(edited && col("g_j") === j, 1))))
    }
    val observation = new Observation(s"truth-${p.name}")
    val flagged = ref
      .withColumn("g_u", pmod(hashOf("u"), lit(1000L)))
      .withColumn("g_w", pmod(hashOf("w"), lit(es.size.toLong)))
      .withColumn("g_j",
        if (p.table == "nested") pmod(hashOf("j"), size(col("items")).cast("long")) else lit(0L))
      .observe(observation, count(when(isDel, 1)).as("dels"),
        perCol.map { case (_, alias, agg) => agg.as(alias) }: _*)
    val kept = flagged.filter(!isDel).select(ref.columns.toSeq.map { c =>
      es.zipWithIndex.filter(_._1.target == c).foldLeft(col(c)) { case (acc, (e, i)) =>
        when(isEdit && col("g_w") === i, e.change).otherwise(acc)
      }.as(c)
    }: _*)
    val actual = kept.unionByName(base(p, p.rows, p.rows + p.insRows, 1))
    val withExtra =
      if (p.mode == "schema") actual.withColumn("c_ingest_batch", lit(ctx.seed)) else actual
    withExtra.write.parquet(s"$dir/new")
    val seen = observation.get
    if (p.mode == "schema") {
      val provided = StructType(ref.schema.fields.filterNot(_.name == ProvidedSchemaDrop))
      Files.write(s"$dir/schema.json", provided.json)
    }
    val dels = seen("dels").asInstanceOf[Long]
    val counts = perCol.map { case (flat, alias, _) => flat -> seen(alias).asInstanceOf[Long] }
      .filter(_._2 > 0).toMap
    Truth(p.rows, p.rows - dels + p.insRows, counts, dels, p.insRows,
      Files.du(s"$dir/ref") + Files.du(s"$dir/new"))
  }

  /** `_INFO` pair `i` differs in exactly `i % 5` compared places, plus
    * changes to ignored and version keys that must not count. */
  private def generateInfo(i: Int): Int = {
    val m = new ObjectMapper()
    val rnd = new scala.util.Random(ctx.seed * 1000 + i)
    def doc(): ObjectNode = {
      val d = m.createObjectNode()
      val md = d.putObject("metadata")
      Seq("sourceApplication", "country", "historyType", "dataFilename", "sourceType",
        "informationDate").foreach(f => md.put(f, s"$f-${rnd.nextInt(1000)}"))
      md.put("version", 1 + rnd.nextInt(9))
      val ai = md.putObject("additionalInfo")
      Seq("std_application_id", "std_enceladus_version", "conform_input_dir_size",
        "source_system", "owner", "row_count").foreach(k => ai.put(k, s"$k-${rnd.nextInt(1000)}"))
      d.put("runUniqueId", java.util.UUID.nameUUIDFromBytes(Array(i.toByte, ctx.seed.toByte)).toString)
      val cps = d.putArray("checkpoints")
      (0 until 4).foreach { c =>
        val cp = cps.addObject()
        cp.put("name", s"checkpoint-$c").put("workflowName", "Standardization").put("order", c)
          .put("software", "atum").put("version", "0.2.6")
        val ctl = cp.putArray("controls")
        Seq("recordCount", "absAggregatedTotal", "hashCrc32").foreach { n =>
          ctl.addObject().put("controlName", n).put("controlType", "count")
            .put("controlCol", "*").put("controlValue", rnd.nextLong().toString)
        }
      }
      d
    }
    val was = doc()
    val is = was.deepCopy()
    val want = i % 5
    val md = is.get("metadata").asInstanceOf[ObjectNode]
    val ai = md.get("additionalInfo").asInstanceOf[ObjectNode]
    val counted: Seq[() => Unit] = Seq(
      () => md.put("country", "changed"),
      () => ai.put("owner", "someone-else"),
      () => ai.put("added_key", "new"),
      () => is.get("checkpoints").get(2).get("controls").get(1).asInstanceOf[ObjectNode]
        .put("controlValue", "0"),
      () => is.get("checkpoints").get(3).asInstanceOf[ObjectNode].put("name", "renamed"))
    counted.take(want).foreach(_())
    ai.put("std_application_id", "ignored-change")
    ai.put("std_enceladus_version", "9.9.9")
    is.get("checkpoints").get(0).asInstanceOf[ObjectNode].put("software", "atum-next")
    Files.write(ctx.path(s"info/$i/was.json"), m.writeValueAsString(was))
    Files.write(ctx.path(s"info/$i/is.json"), m.writeValueAsString(is))
    want
  }

  def setup(): Unit = {
    truths ++= Workload.parallel(Pairs.map(p => () => p.name -> generate(p)))
    infoTruth ++= (0 until InfoPairs).map(generateInfo)
  }

  def inputRows: Long = Pairs.map(p => truths(p.name)).map(t => t.refRows + t.newRows).sum
  def inputBytes: Long = Pairs.map(p => truths(p.name).bytes).sum

  // --- operations ---------------------------------------------------

  /** One comparison through the CLI path. Returns (result, written
    * path, compare seconds, write seconds). */
  private def comparePair(p: Pair, out: String)
      : (ComparisonResult, String, Double, Double) = {
    val dir = pairDir(p)
    val ref = ctx.span("io.load") { DataFrameIO.load(SourceParams("parquet", Some(s"$dir/ref"))) }
    val act = ctx.span("io.load") { DataFrameIO.load(SourceParams("parquet", Some(s"$dir/new"))) }
    val provided = if (p.mode != "schema") None else ctx.span("io.load") {
      Some(DataType.fromJson(PathResolver.readString(s"$dir/schema.json", conf))
        .asInstanceOf[StructType])
    }
    val (result, compareS) = Workload.timed {
      ctx.span("diff.compare") {
        new DatasetComparator(ref, act, DiffOptions(keys = p.keys, providedSchema = provided))
          .compare()
      }
    }
    val fin = result.copy(passedOptions = s"ref=parquet new=parquet keys=${p.keys.mkString(",")}")
    val (written, writeS) = Workload.timed {
      ctx.span("io.write") {
        val path = result.resultDF match {
          case Some(df) => DataFrameIO.write(df, SourceParams("parquet", Some(out)))
          case None => out
        }
        PathResolver.writeString(s"$path/_METRICS", fin.toJson, conf)
        if (ctx.traced) ctx.tracer.note("bytes", Files.du(path).toDouble)
        path
      }
    }
    (fin, written, compareS, writeS)
  }

  /** Mismatches between a finished comparison and the pair's truth. */
  private def check(p: Pair, t: Truth, r: ComparisonResult, written: String): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) bad += s"$what = $got, expected $want"
    val counted = t.counted(p)
    val nEdits = counted.values.sum
    val keyless = p.keys.isEmpty
    val wantDiff = t.diffRows(p)
    expect("diffCount", r.diffCount, wantDiff)
    expect("refRowCount", r.refRowCount, t.refRows)
    expect("newRowCount", r.newRowCount, t.newRows)
    expect("passedCount", r.passedCount, t.refRows - nEdits - t.dels)
    expect("resultDF present", r.resultDF.isDefined, wantDiff > 0)
    val metrics = new ObjectMapper().readTree(
      PathResolver.readString(s"$written/_METRICS", conf))
    expect("_METRICS diffCount", metrics.path("diffCount").asLong(-1), wantDiff)
    expect("_METRICS refRowCount", metrics.path("refRowCount").asLong(-1), t.refRows)
    expect("_METRICS newRowCount", metrics.path("newRowCount").asLong(-1), t.newRows)
    expect("_METRICS passedCount", metrics.path("passedCount").asLong(-1), t.refRows - nEdits - t.dels)
    expect("_METRICS passed", metrics.path("passed").asBoolean(false), wantDiff == 0)
    if (wantDiff > 0) {
      val keyCol = p.keys.headOption.getOrElse(FirstColumn(p.table))
      val rows = spark.read.parquet(written)
        .select(col(s"expected_$keyCol").isNull, col(s"actual_$keyCol").isNull, col("errCol"))
        .collect()
      val perCol = mutable.Map.empty[String, Long].withDefaultValue(0L)
      var refOnly = 0L
      var newOnly = 0L
      rows.foreach { r =>
        if (r.getBoolean(0)) newOnly += 1
        else if (r.getBoolean(1)) refOnly += 1
        else r.getSeq[String](2).foreach(c => perCol(c) += 1)
      }
      expect("written diff rows", rows.length.toLong, wantDiff)
      if (keyless) {
        expect("reference-only rows", refOnly, nEdits + t.dels)
        expect("actual-only rows", newOnly, nEdits + t.ins)
      } else {
        expect("reference-only rows", refOnly, t.dels)
        expect("actual-only rows", newOnly, t.ins)
        expect("errCol counts", perCol.toMap, counted)
      }
    }
    bad.toSeq
  }

  private def runPair(p: Pair, checks: Checks, timed: Boolean, round: Int): Unit = {
    opId += 1
    val t = truths(p.name)
    val out = ctx.path(s"out/r$round/${p.name}")
    checks.op(s"pair ${p.name}") {
      val ((r, written, compareS, writeS), opS) = Workload.timed {
        ctx.span("op.compare_pair", opId)(comparePair(p, out))
      }
      val problems = check(p, t, r, written)
      if (timed) {
        lat.add("op", opS)
        lat.add("write", writeS)
        rowsCompared += t.refRows + t.newRows
        compareWall += compareS
        bytesIn += t.bytes
        bytesOut += Files.du(out)
        diffRowsExpected += t.diffRows(p)
        if (problems.isEmpty) diffRowsFound += t.diffRows(p)
      }
      problems
    }
    if (timed) spark.catalog.clearCache()
    if (ctx.traced && p.table == "nested") ctx.span("schema.flatten") {
      val schema = spark.read.parquet(s"${pairDir(p)}/ref").schema
      ctx.tracer.note("columns", Flattener.flattenSelectList(schema, Map("items" -> 7)).size)
    }
  }

  private def runInfo(checks: Checks): Unit = {
    val i = infoNext % InfoPairs
    infoNext += 1
    opId += 1
    checks.op(s"info $i") {
      val diffs = ctx.span("op.info_pair", opId) {
        val was = ctx.span("io.read_text") { PathResolver.readString(ctx.path(s"info/$i/was.json"), conf) }
        val is = ctx.span("io.read_text") { PathResolver.readString(ctx.path(s"info/$i/is.json"), conf) }
        ctx.span("infodiff.compare") { InfoFileDiff.compare(was, is) }
      }
      if (diffs.size == infoTruth(i)) Nil
      else Seq(s"${diffs.size} differences, expected ${infoTruth(i)}: ${diffs.map(_.path)}")
    }
  }

  /** The untimed warm-up round runs one pair of each code path,
    * concurrently, so their first-use costs overlap. */
  def round(index: Int, checks: Checks, timed: Boolean): Unit =
    if (!timed) {
      Workload.parallel(Pairs.filter(p => WarmUp.contains(p.name))
        .map(p => () => runPair(p, checks, timed, index)))
      runInfo(checks)
    } else {
      val order = new scala.util.Random(ctx.seed * 7919 + index).shuffle(Pairs)
      order.foreach { p => runPair(p, checks, timed, index); runInfo(checks) }
    }

  def endToEnd: Seq[(String, Metric)] = Seq(
    "rows_per_s" -> Metric(rowsCompared / compareWall, "rows/s"),
    "op_p50_s" -> Metric(Stats.median(lat("op")), "s"),
    "write_p50_s" -> Metric(Stats.median(lat("write")), "s"),
    "write_amp" -> Metric(bytesOut.toDouble / bytesIn, "B/B"),
    "recall" -> Metric(diffRowsFound.toDouble / diffRowsExpected, "frac"))

  def samples: Map[String, Int] = Map("comparisons" -> lat.count("op"), "info_comparisons" -> infoNext)
}

object DiffSuite {
  final case class Pair(name: String, table: String, rows: Long, mode: String,
      keys: Seq[String], files: Int, editPm: Int = 0, delPm: Int = 0, insRows: Long = 0)

  /** An injected edit: the column it rewrites (and, for `items`, the
    * element field), and the new value. */
  final case class Edit(target: String, field: String, change: Column)

  final case class Truth(refRows: Long, newRows: Long, edits: Map[String, Long],
      dels: Long, ins: Long, bytes: Long) {
    /** Edits by flat column, without those outside a provided schema. */
    def counted(p: Pair): Map[String, Long] =
      edits.filter { case (c, _) => p.mode != "schema" || c != ProvidedSchemaDrop }

    /** Diff rows the pair must produce: a keyless compare reports an
      * edited row once per side. */
    def diffRows(p: Pair): Long = {
      val n = counted(p).values.sum
      (if (p.keys.isEmpty) 2 * n else n) + dels + ins
    }
  }

  val ProvidedSchemaDrop = "c_comment"
  val WarmUp = Set("customer_150", "nested_1500", "orders_150_keyless")
  /** Never null, so a null on one side marks a one-sided diff row. */
  val FirstColumn = Map("customer" -> "c_custkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "nested" -> "o_orderkey")
  val InfoPairs = 20

  private val C = Seq("c_custkey")
  private val O = Seq("o_orderkey")
  private val L = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

  /** The timed mix: mostly fixed-cost small keyed slices, so the median
    * is a small-pair latency, plus one nested, one provided-schema, one
    * identical and one keyless pair, and two data-bound pairs. */
  val Pairs: Seq[Pair] = Seq(
    Pair("customer_150", "customer", 150, "keyed", C, 1, 100, 20, 3),
    Pair("customer_1500", "customer", 1500, "keyed", C, 1, 50, 10, 15),
    Pair("orders_150", "orders", 150, "keyed", O, 1, 100, 20, 3),
    Pair("lineitem_1500", "lineitem", 1500, "keyed", L, 1, 50, 10, 15),
    Pair("lineitem_15k", "lineitem", 15000, "keyed", L, 2, 20, 5, 75),
    Pair("nested_1500", "nested", 1500, "keyed", O, 1, 50, 10, 15),
    Pair("customer_1500_schema", "customer", 1500, "schema", C, 1, 50, 10, 15),
    Pair("customer_150_same", "customer", 150, "identical", C, 1),
    Pair("orders_150_keyless", "orders", 150, "keyless", Nil, 1, 100, 20, 3),
    Pair("lineitem_60k", "lineitem", 60000, "keyed", L, 4, 10, 5, 300),
    Pair("nested_10k", "nested", 10000, "keyed", O, 2, 10, 5, 50))

}
