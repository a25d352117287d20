package graft.ops

import graft.SparkTestBase
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the job-free opens with Spark's parquet schema inference:
  * `Layout.footerSchema(f)` equals `spark.read.parquet(f).schema` over
  * generated schemas (nested struct/array/map, decimal(38,18), binary,
  * date, timestamp, timestamp_ntz, non-null fields), both for files
  * Spark wrote (its row-metadata key carries the schema) and for files
  * without that key, where the parquet types go through the converter
  * and its settings (binary-as-string, INT96-as-timestamp) decide; and
  * `Layout.openDir(dir)` equals `spark.read.parquet(dir)` on a
  * hive-partitioned dir and on a dir whose first file has zero rows,
  * and an explicit-file read equals `spark.read.parquet(files: _*)`,
  * Spark's error for a vanished file included. */
class FooterSchemaSpec extends AnyFunSuite with SparkTestBase {

  private val leaf: Gen[DataType] = Gen.oneOf(IntegerType, LongType,
    ShortType, ByteType, DoubleType, FloatType, BooleanType, StringType,
    BinaryType, DateType, TimestampType, TimestampNTZType,
    DecimalType(38, 18), DecimalType(10, 2))

  private def dataType(depth: Int): Gen[DataType] =
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      1 -> struct(depth - 1),
      1 -> Gen.zip(dataType(depth - 1), Gen.oneOf(true, false))
        .map { case (e, n) => ArrayType(e, n) },
      1 -> Gen.zip(Gen.oneOf(StringType, IntegerType), dataType(depth - 1),
          Gen.oneOf(true, false))
        .map { case (k, v, n) => MapType(k, v, n) })

  private def struct(depth: Int): Gen[StructType] = for {
    n <- Gen.choose(1, 4)
    types <- Gen.listOfN(n, dataType(depth))
    nulls <- Gen.listOfN(n, Gen.oneOf(true, false))
  } yield StructType(types.zip(nulls).zipWithIndex.map { case ((t, nl), i) =>
    StructField(s"f$i", t, nl)
  })

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-footer").toString

  private def status(file: String): FileStatus = {
    val p = new Path(file)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
  }

  /** The one parquet file of a Spark write of zero rows of `schema`. */
  private def sparkWritten(schema: StructType): String = {
    val dir = tmp()
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).head
  }

  /** A zero-row file of `schema` as a non-Spark writer leaves it: the
    * parquet types Spark's converter maps `schema` to under the
    * session's settings, and no Spark row-metadata key. */
  private def withoutSparkKey(schema: StructType): String = {
    val file = s"${tmp()}/plain.parquet"
    val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    ExampleParquetWriter.builder(new Path(file))
      .withType(new SparkToParquetSchemaConverter(sqlConf).convert(schema))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build().close()
    file
  }

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      f
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** footerSchema ≡ inference for `write(schema)` read under `read`. */
  private def checkParity(write: StructType => String,
      read: Seq[(String, String)]): Unit = {
    val prop = Prop.forAll(struct(2)) { schema =>
      val file = write(schema)
      withConf(read: _*) {
        val got = Layout.footerSchema(spark, status(file))
        val want = spark.read.parquet(file).schema
        Prop(got == want) :| s"schema $schema\nfooter   $got\ninferred $want"
      }
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("footerSchema equals inference on Spark-written files (default conf)") {
    checkParity(sparkWritten, Nil)
  }

  test("footerSchema equals inference without the Spark key (default conf)") {
    checkParity(withoutSparkKey, Nil)
  }

  test("footerSchema equals inference with binaryAsString") {
    checkParity(withoutSparkKey, Seq("spark.sql.parquet.binaryAsString" -> "true"))
    checkParity(sparkWritten, Seq("spark.sql.parquet.binaryAsString" -> "true"))
  }

  test("footerSchema equals inference on INT96 output read with int96AsTimestamp") {
    val int96 = (s: StructType) =>
      withConf("spark.sql.parquet.outputTimestampType" -> "INT96")(withoutSparkKey(s))
    checkParity(int96, Seq("spark.sql.parquet.int96AsTimestamp" -> "true"))
    checkParity(int96, Seq("spark.sql.parquet.int96AsTimestamp" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"))
  }

  private def sameRead(dir: String): Unit = {
    val got = Layout.openDir(spark, dir)
    val want = spark.read.parquet(dir)
    assert(got.schema === want.schema)
    assert(got.inputFiles.toSeq.sorted === want.inputFiles.toSeq.sorted)
    val cols = want.columns.toSeq.map(col)
    assert(got.select(cols: _*).collect().map(_.toString).sorted.toSeq ===
      want.select(cols: _*).collect().map(_.toString).sorted.toSeq)
  }

  test("openDir equals spark.read.parquet on a hive-partitioned dir") {
    val dir = tmp()
    spark.range(60).select(col("id"), (col("id") % 3).as("p"),
        (col("id") % 2 === 0).as("flag"), lit("2026-01-0").as("d0"))
      .withColumn("d", concat(col("d0"), (col("id") % 2 + 1).cast("string")))
      .drop("d0")
      .write.partitionBy("p", "d").parquet(s"$dir/t")
    sameRead(s"$dir/t")
    // partition columns come after the data columns, with inferred types
    val schema = Layout.openDir(spark, s"$dir/t").schema
    assert(schema.fieldNames.toSeq === Seq("id", "flag", "p", "d"))
    assert(schema("p").dataType === IntegerType)
    assert(schema("d").dataType === DateType)
  }

  test("openDir equals spark.read.parquet when the first listed file has zero rows") {
    val dir = tmp()
    val schema = StructType(Seq(StructField("k", LongType, nullable = false),
      StructField("s", StringType)))
    // a zero-row part file named to sort first, then two data files
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .coalesce(1).write.parquet(s"$dir/empty")
    val empty = new java.io.File(s"$dir/empty").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    new java.io.File(s"$dir/t").mkdirs()
    java.nio.file.Files.copy(empty.toPath,
      new java.io.File(s"$dir/t/part-00000-0000-empty.parquet").toPath)
    spark.range(10).select(col("id").as("k"), col("id").cast("string").as("s"))
      .repartition(2).write.mode("append").parquet(s"$dir/t")
    assert(new java.io.File(s"$dir/t").list().filter(_.endsWith(".parquet"))
      .min === "part-00000-0000-empty.parquet")
    sameRead(s"$dir/t")
    assert(Layout.openDir(spark, s"$dir/t").count() === 10L)
  }

  test("openDir falls back to Spark's own error on a missing dir") {
    val missing = s"${tmp()}/absent"
    val want = intercept[Exception](spark.read.parquet(missing))
    val got = intercept[Exception](Layout.openDir(spark, missing))
    assert(got.getClass === want.getClass)
    assert(got.getMessage === want.getMessage)
  }

  test("explicit-file reads equal spark.read.parquet(files), partitioned or not") {
    val dir = tmp()
    spark.range(40).select(col("id"), (col("id") % 2).as("p"))
      .repartition(4).write.partitionBy("p").parquet(s"$dir/t")
    // a manifest without `bytes` plans through the explicit-file read
    val manifest = Layout.statsManifest(spark, s"$dir/t", Seq("id"))
      .drop("bytes")
    val files = manifest.select("file").collect().map(_.getString(0)).toSeq
    val got = Layout.snapshotRead(spark, s"$dir/t", manifest)
    val want = spark.read.option("basePath", s"$dir/t").parquet(files: _*)
    assert(got.schema === want.schema)
    assert(got.orderBy("id").collect().toSeq === want.orderBy("id").collect().toSeq)
  }

  test("an explicit-file read naming a vanished file raises Spark's own error") {
    val dir = tmp()
    spark.range(40).select(col("id")).repartition(4).write.parquet(s"$dir/t")
    val manifest = Layout.statsManifest(spark, s"$dir/t", Seq("id"))
      .drop("bytes")
    val files = manifest.select("file").collect().map(_.getString(0)).toSeq
    new java.io.File(new Path(files.max).toUri.getPath).delete()
    val want = intercept[Exception](spark.read.parquet(files: _*))
    val got = intercept[Exception](Layout.snapshotRead(spark, s"$dir/t", manifest))
    assert(got.getClass === want.getClass)
    assert(got.getMessage === want.getMessage)
  }
}
