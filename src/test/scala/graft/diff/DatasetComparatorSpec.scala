package graft.diff

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

class DatasetComparatorSpec extends AnyFunSuite with SparkTestBase {

  private def df(sql: String): DataFrame = spark.sql(sql)

  private val base =
    """SELECT * FROM VALUES
      | (1, 'alice', 10.5), (2, 'bob', 20.0), (3, 'carol', 30.25)
      | AS t(id, name, amount)""".stripMargin

  test("identical datasets: no diff, passedCount = rowCount") {
    val r = new DatasetComparator(df(base), df(base), DiffOptions(keys = Seq("id"))).compare()
    assert(r.datasetsMatch)
    assert(r.refRowCount == 3 && r.newRowCount == 3)
    assert(r.passedCount == 3 && r.diffCount == 0)
    assert(r.resultDF.isEmpty)
  }

  test("value mismatch: errCol names the flat column, reversed order") {
    val actual =
      """SELECT * FROM VALUES
        | (1, 'alice', 10.5), (2, 'bobby', 21.0), (3, 'carol', 30.25)
        | AS t(id, name, amount)""".stripMargin
    val r = new DatasetComparator(df(base), df(actual), DiffOptions(keys = Seq("id"))).compare()
    assert(r.diffCount == 1 && r.passedCount == 2)
    val row = r.resultDF.get.collect().head
    val out = r.resultDF.get
    assert(out.schema.fieldNames.toSet ==
      Set("expected_amount", "expected_id", "expected_name",
          "actual_amount", "actual_id", "actual_name", "errCol"))
    assert(row.getAs[Int]("expected_id") == 2)
    // selector sorts columns amount,id,name → flat order same → reversed: name,id,amount
    assert(row.getAs[scala.collection.Seq[String]]("errCol") == Seq("name", "amount"))
  }

  test("one-sided rows: missing side null, all differing columns in errCol") {
    val actual = base + " WHERE id <> 3"
    val r = new DatasetComparator(df(base), df(actual), DiffOptions(keys = Seq("id"))).compare()
    assert(r.diffCount == 1)
    val row = r.resultDF.get.collect().head
    assert(row.getAs[Int]("expected_id") == 3)
    assert(row.getAs[Any]("actual_id") == null)
    assert(row.getAs[scala.collection.Seq[String]]("errCol") == Seq("name", "id", "amount"))
  }

  test("duplicate keys raise DuplicateKeysException when not allowed") {
    val dup = base + " UNION ALL SELECT 1, 'alice2', 99.0"
    val e = intercept[DuplicateKeysException] {
      new DatasetComparator(df(dup), df(base), DiffOptions(keys = Seq("id"))).compare()
    }
    assert(e.refDuplicates == 1 && e.newDuplicates == 0)
  }

  test("schema mismatch raises SchemasDifferException naming the paths") {
    val extra = "SELECT *, 1 AS _c5 FROM (" + base + ")"
    val e = intercept[SchemasDifferException] {
      new DatasetComparator(df(extra), df(base), DiffOptions(keys = Seq("id"))).compare()
    }
    assert(e.mismatchPaths == Seq("_c5"))
    assert(e.getMessage.contains("_c5 cannot be found in both schemas"))
  }

  test("keyless mode: changed row becomes two one-sided diff rows") {
    val actual =
      """SELECT * FROM VALUES
        | (1, 'alice', 10.5), (2, 'bob', 20.0), (3, 'carol', 31.75)
        | AS t(id, name, amount)""".stripMargin
    val r = new DatasetComparator(df(base), df(actual), DiffOptions()).compare()
    assert(r.diffCount == 2)
    val rows = r.resultDF.get.collect()
    assert(rows.forall(row =>
      row.getAs[Any]("expected_id") == null || row.getAs[Any]("actual_id") == null))
  }

  test("keyless mode: full-row duplicates count as duplicates") {
    val dup = base + " UNION ALL SELECT 1, 'alice', 10.5"
    val e = intercept[DuplicateKeysException] {
      new DatasetComparator(df(dup), df(base), DiffOptions()).compare()
    }
    assert(e.refDuplicates == 1)
  }

  test("nested structs + shorter array attributed to padded flat column") {
    // mirrors the reference's array-length mismatch case
    // (DatasetComparatorSuite.scala:113-161): actual's array lost element 1
    // → error on b_1_name only
    val ref = df(
      """SELECT * FROM VALUES
        | (1, array(named_struct('name', 'x'), named_struct('name', 'y'))),
        | (2, array(named_struct('name', 'z')))
        | AS t(id, b)""".stripMargin)
    val act = df(
      """SELECT * FROM VALUES
        | (1, array(named_struct('name', 'x'))),
        | (2, array(named_struct('name', 'z')))
        | AS t(id, b)""".stripMargin)
    val r = new DatasetComparator(ref, act, DiffOptions(keys = Seq("id"))).compare()
    assert(r.diffCount == 1)
    val row = r.resultDF.get.collect().head
    assert(row.getAs[Int]("expected_id") == 1)
    assert(row.getAs[scala.collection.Seq[String]]("errCol") == Seq("b_1_name"))
  }

  test("nested key path (ckey.value) works") {
    val ref = df("SELECT named_struct('value', 1) AS ckey, 'a' AS v " +
      "UNION ALL SELECT named_struct('value', 2), 'b'")
    val act = df("SELECT named_struct('value', 1) AS ckey, 'a' AS v " +
      "UNION ALL SELECT named_struct('value', 2), 'B'")
    val r = new DatasetComparator(ref, act, DiffOptions(keys = Seq("ckey.value"))).compare()
    assert(r.diffCount == 1)
    assert(r.resultDF.get.collect().head.getAs[scala.collection.Seq[String]]("errCol") == Seq("v"))
  }

  test("provided schema cherry-picks columns; non-subset input rejected") {
    val ps = DataType.fromJson(
      """{"type":"struct","fields":[
        |{"name":"id","type":"integer","nullable":true,"metadata":{}},
        |{"name":"name","type":"string","nullable":true,"metadata":{}}]}""".stripMargin)
      .asInstanceOf[StructType]
    // amounts differ but are not in the provided schema → match
    val actual =
      """SELECT * FROM VALUES
        | (1, 'alice', 99.9), (2, 'bob', 20.0), (3, 'carol', 30.25)
        | AS t(id, name, amount)""".stripMargin
    val r = new DatasetComparator(df(base), df(actual),
      DiffOptions(keys = Seq("id"), providedSchema = Some(ps))).compare()
    assert(r.datasetsMatch)

    val narrow = "SELECT id, amount FROM (" + base + ")"
    val e = intercept[SchemasDifferException] {
      new DatasetComparator(df(narrow), df(base),
        DiffOptions(keys = Seq("id"), providedSchema = Some(ps))).compare()
    }
    assert(e.mismatchPaths == Seq("name"))
  }

  test("fast keyed mode and parity mode produce identical results") {
    val actual =
      """SELECT * FROM VALUES
        | (1, 'alice', 10.5), (2, 'bobby', 21.0), (4, 'dave', 11.25)
        | AS t(id, name, amount)""".stripMargin
    val fast = new DatasetComparator(df(base), df(actual),
      DiffOptions(keys = Seq("id"), fastKeyed = true)).compare()
    val parity = new DatasetComparator(df(base), df(actual),
      DiffOptions(keys = Seq("id"), fastKeyed = false)).compare()
    assert(fast.refRowCount == parity.refRowCount)
    assert(fast.newRowCount == parity.newRowCount)
    assert(fast.diffCount == parity.diffCount)
    assert(fast.passedCount == parity.passedCount)
    def canon(r: ComparisonResult) = r.resultDF.get
      .select("expected_id", "actual_id", "expected_name", "actual_name", "errCol")
      .collect().map(_.toString).sorted.toSeq
    assert(canon(fast) == canon(parity))
  }

  test("fast keyed mode matches parity mode on nested arrays") {
    val ref = df(
      """SELECT * FROM VALUES
        | (1, array(named_struct('name', 'x'), named_struct('name', 'y'))),
        | (2, array(named_struct('name', 'z')))
        | AS t(id, b)""".stripMargin)
    val act = df(
      """SELECT * FROM VALUES
        | (1, array(named_struct('name', 'x'))),
        | (2, array(named_struct('name', 'z')))
        | AS t(id, b)""".stripMargin)
    val fast = new DatasetComparator(ref, act,
      DiffOptions(keys = Seq("id"), fastKeyed = true)).compare()
    val parity = new DatasetComparator(ref, act,
      DiffOptions(keys = Seq("id"), fastKeyed = false)).compare()
    assert(fast.diffCount == parity.diffCount && fast.diffCount == 1)
    def err(r: ComparisonResult) = r.resultDF.get.collect().head
      .getAs[scala.collection.Seq[String]]("errCol")
    assert(err(fast) == err(parity))
  }

  test("map columns: canonicalized to key-sorted entries, diffed, attributed") {
    // same logical map built with different insertion order on each side
    // → equal after canonicalization; row 2's value genuinely differs
    val ref = df(
      """SELECT * FROM VALUES
        | (1, map('b', 'x', 'a', 'y')),
        | (2, map('k', 'v'))
        | AS t(id, m)""".stripMargin)
    val act = df(
      """SELECT * FROM VALUES
        | (1, map('a', 'y', 'b', 'x')),
        | (2, map('k', 'CHANGED'))
        | AS t(id, m)""".stripMargin)
    val r = new DatasetComparator(ref, act, DiffOptions(keys = Seq("id"))).compare()
    assert(r.diffCount == 1)
    val row = r.resultDF.get.collect().head
    assert(row.getAs[Int]("expected_id") == 2)
    // canonical shape flattens to m_<pos>_key / m_<pos>_value
    assert(row.getAs[scala.collection.Seq[String]]("errCol") == Seq("m_0_value"))
  }

  test("map columns: keyless (parity) path hashes the canonical entry list") {
    val ref = df("SELECT 1 AS id, map('b', 2, 'a', 1) AS m")
    val actSame = df("SELECT 1 AS id, map('a', 1, 'b', 2) AS m")
    val rSame = new DatasetComparator(ref, actSame, DiffOptions()).compare()
    assert(rSame.datasetsMatch && rSame.diffCount == 0)

    val actDiff = df("SELECT 1 AS id, map('a', 1, 'b', 99) AS m")
    val rDiff = new DatasetComparator(ref, actDiff, DiffOptions()).compare()
    assert(rDiff.diffCount == 2) // changed row → two one-sided rows
  }

  test("map columns: fast keyed and parity modes agree") {
    val ref = df(
      """SELECT * FROM VALUES
        | (1, map('b', 'x', 'a', 'y')), (2, map('k', 'v'))
        | AS t(id, m)""".stripMargin)
    val act = df(
      """SELECT * FROM VALUES
        | (1, map('a', 'y', 'b', 'x')), (2, map('k', 'w'))
        | AS t(id, m)""".stripMargin)
    val fast = new DatasetComparator(ref, act,
      DiffOptions(keys = Seq("id"), fastKeyed = true)).compare()
    val parity = new DatasetComparator(ref, act,
      DiffOptions(keys = Seq("id"), fastKeyed = false)).compare()
    assert(fast.diffCount == 1 && parity.diffCount == 1)
    def err(r: ComparisonResult) = r.resultDF.get.collect().head
      .getAs[scala.collection.Seq[String]]("errCol")
    assert(err(fast) == err(parity))
  }

  test("metrics JSON is well-formed and carries the counts") {
    val actual = base + " WHERE id <> 3"
    val r = new DatasetComparator(df(base), df(actual), DiffOptions(keys = Seq("id"))).compare()
    val json = r.toJson
    assert(json.contains("\"refRowCount\": 3"))
    assert(json.contains("\"diffCount\": 1"))
    assert(json.contains("\"passed\": false"))
  }

  /** Both modes' results, compared on the counts and the sorted row set. */
  private def assertFastEqualsParity(ref: DataFrame, act: DataFrame, keys: Seq[String]): Unit = {
    val fast = new DatasetComparator(ref, act, DiffOptions(keys = keys)).compare()
    val parity = new DatasetComparator(ref, act,
      DiffOptions(keys = keys, fastKeyed = false)).compare()
    assert(parity.diffCount > 0, "fixture must differ")
    assert((fast.refRowCount, fast.newRowCount, fast.diffCount, fast.passedCount) ==
      (parity.refRowCount, parity.newRowCount, parity.diffCount, parity.passedCount))
    def rows(r: ComparisonResult) = r.resultDF.map { d =>
      d.select(d.columns.sorted.map(d.col).toSeq: _*).collect().map(_.toString).sorted.toSeq
    }
    assert(rows(fast) == rows(parity))
  }

  // Diff rows whose errCol is empty: the rows differ, but no flat column
  // does. The parity path reports them; so must the default path.
  test("a reference-only row whose key and values are all null is reported") {
    val ref = df(base + " UNION ALL SELECT NULL, NULL, NULL")
    assertFastEqualsParity(ref, df(base), Seq("id"))
  }

  test("an empty array against a null array is reported") {
    val ref = df("SELECT 1 AS id, CAST(array() AS array<string>) AS items " +
      "UNION ALL SELECT 2, array('y')")
    val act = df("SELECT 1 AS id, CAST(NULL AS array<string>) AS items " +
      "UNION ALL SELECT 2, array('y')")
    assertFastEqualsParity(ref, act, Seq("id"))
  }

  test("an array gaining a trailing null element is reported") {
    val ref = df("SELECT 1 AS id, array('x') AS items UNION ALL SELECT 2, array('y')")
    val act = df("SELECT 1 AS id, array('x', NULL) AS items UNION ALL SELECT 2, array('y')")
    assertFastEqualsParity(ref, act, Seq("id"))
  }

  test("keyless one-pass diff equals the parity path") {
    val actual =
      """SELECT * FROM VALUES
        | (1, 'alice', 10.5), (2, 'bob', 20.0), (3, 'carol', 31.75), (5, NULL, NULL)
        | AS t(id, name, amount)""".stripMargin
    assertFastEqualsParity(df(base), df(actual), Nil)
  }

  test("uncached one-pass diff recomputes the same rows on every read") {
    val actual =
      """SELECT * FROM VALUES
        | (1, 'alice', 10.5), (2, 'bobby', 21.0), (4, 'dave', 11.25)
        | AS t(id, name, amount)""".stripMargin
    val r = new DatasetComparator(df(base), df(actual),
      DiffOptions(keys = Seq("id"), cache = false)).compare()
    assert(r.diffCount == 3 && r.passedCount == 1 && r.refRowCount == 3)
    val rows = r.resultDF.get.collect().map(_.toString).sorted.toSeq
    assert(rows.size == 3)
    assert(r.resultDF.get.collect().map(_.toString).sorted.toSeq == rows)
  }

  /** `f`'s result and the number of SQL executions it ran: tags them
    * with a fresh job group, then runs one sentinel execution in the group
    * and waits for its end event, so every earlier event has reached the
    * listener (one FIFO bus). */
  private def executionsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-sql-${System.nanoTime}"
    val sentinel = s"$group-sentinel"
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    @volatile var sentinelId = -1L
    @volatile var sentinelDone = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          if (s.description == sentinel) sentinelId = s.executionId
          else mine.add(s.executionId)
        case e: SparkListenerSQLExecutionEnd if e.executionId == sentinelId =>
          sentinelDone = true
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "execution count probe")
      val out = try {
        val out = f
        sc.setJobDescription(sentinel)
        spark.range(1).collect()
        out
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30000000000L
      while (!sentinelDone) {
        assert(System.nanoTime < deadline, "listener never saw the sentinel execution")
        Thread.sleep(10)
      }
      (out, mine.size)
    } finally sc.removeSparkListener(listener)
  }

  test("compare runs exactly one SQL execution; the diff's write reads the cache") {
    val dir = java.nio.file.Files.createTempDirectory("graft-onepass").toString
    def parquet(name: String, sql: String): DataFrame = {
      df(sql).write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val ref = parquet("ref", base)
    val act = parquet("act",
      "SELECT * FROM VALUES (1, 'alice', 10.5), (2, 'bobby', 21.0), (4, 'dave', 11.25) " +
        "AS t(id, name, amount)")
    val nestedRef = parquet("nref",
      "SELECT 1 AS id, array(named_struct('n', 'x'), named_struct('n', 'y')) AS b " +
        "UNION ALL SELECT 2, array(named_struct('n', 'z'))")
    val nestedAct = parquet("nact",
      "SELECT 1 AS id, array(named_struct('n', 'x')) AS b " +
        "UNION ALL SELECT 2, array(named_struct('n', 'z'))")
    val ps = StructType(ref.schema.fields.filter(_.name != "amount"))
    val cases: Seq[(String, () => ComparisonResult)] = Seq(
      "keyed" -> (() => new DatasetComparator(ref, act, DiffOptions(keys = Seq("id"))).compare()),
      "keyless" -> (() => new DatasetComparator(ref, act, DiffOptions()).compare()),
      "nested-array" -> (() =>
        new DatasetComparator(nestedRef, nestedAct, DiffOptions(keys = Seq("id"))).compare()),
      "provided-schema" -> (() => new DatasetComparator(ref, act,
        DiffOptions(keys = Seq("id"), providedSchema = Some(ps))).compare()),
      "identical" -> (() =>
        new DatasetComparator(ref, ref, DiffOptions(keys = Seq("id"))).compare()))
    cases.foreach { case (name, run) =>
      val (r, n) = executionsOf(run())
      assert(n == 1, s"$name: $n SQL executions")
      r.resultDF.foreach { d =>
        val plan = d.queryExecution.sparkPlan
        assert(plan.collect { case s: InMemoryTableScanExec => s }.nonEmpty, s"$name:\n$plan")
        assert(plan.collect { case s: FileSourceScanExec => s }.isEmpty, s"$name:\n$plan")
      }
    }
    val dup = parquet("dup", base + " UNION ALL SELECT 1, 'alice2', 99.0")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val (e, n) = executionsOf(intercept[DuplicateKeysException] {
      new DatasetComparator(dup, ref, DiffOptions(keys = Seq("id"))).compare()
    })
    assert(n == 1 && e.refDuplicates == 1 && e.newDuplicates == 0)
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "the duplicate-key throw unpersists its candidates")
  }

  test("a small diff is written as one part file at any shuffle width") {
    val dir = java.nio.file.Files.createTempDirectory("graft-narrow").toString
    val actual =
      """SELECT * FROM VALUES
        | (1, 'alice', 10.5), (2, 'bobby', 21.0), (4, 'dave', 11.25)
        | AS t(id, name, amount)""".stripMargin
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val r = new DatasetComparator(df(base), df(actual), DiffOptions(keys = Seq("id"))).compare()
      assert(r.diffCount == 3)
      r.resultDF.get.write.parquet(s"$dir/out")
      val parts = new java.io.File(s"$dir/out").list().filter(_.startsWith("part-"))
      assert(parts.length == 1, parts.mkString(", "))
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
