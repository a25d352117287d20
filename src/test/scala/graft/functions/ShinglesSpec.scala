package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

object ShinglesSpec {

  /** The builtin higher-order-function formula the [[Shingles]] kernel
    * replaced — the reference every shingle kernel is checked against. */
  def hofShingles(toks: Column, n: Int): Column =
    transform(sequence(lit(0), greatest(size(toks) - (n - 1), lit(1)) - 1),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
}

class ShinglesSpec extends AnyFunSuite with SparkTestBase {
  import ShinglesSpec.hofShingles

  // tokens drawn from a tiny alphabet so windows repeat; nulls and empty
  // strings are the elements concat_ws treats specially
  private val token: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "cd", "é", "日本"), 1 -> Gen.const(""), 1 -> Gen.const(null))
  private val tokenArray: Gen[Option[Seq[String]]] = Gen.frequency(
    1 -> Gen.const(None), 1 -> Gen.const(Some(Seq.empty[String])),
    8 -> Gen.choose(1, 9).flatMap(k => Gen.listOfN(k, token)).map(Some(_)))

  /** Rows whose `Shingles` output differs from the HOF reference, for
    * n = 1..5. The input comes from an RDD, so the projection runs in the
    * executed plan rather than being folded into a local relation on the
    * driver. */
  private def mismatches(arrays: Seq[Option[Seq[String]]]): Seq[String] = {
    import spark.implicits._
    val rows = arrays.zipWithIndex.map { case (a, i) => (i, a.orNull) }
    val df = spark.sparkContext.parallelize(rows, 2).toDF("id", "t")
    (1 to 5).flatMap { n =>
      df.select(col("id"), col("t"),
          TextFunctions.shinglesFromTokens(col("t"), n).as("k"),
          hofShingles(col("t"), n).as("r"))
        .collect().toSeq
        .filter(r => r.getSeq[String](2) != r.getSeq[String](3))
        .map(r => s"n=$n t=${Option(r.getSeq[String](1))}: " +
          s"kernel ${r.getSeq[String](2)} != reference ${r.getSeq[String](3)}")
    }
  }

  private def checkProperty(): Unit = {
    val edge = Seq(None, Some(Seq.empty[String]), Some(Seq[String](null)),
      Some(Seq("", "")), Some(Seq("a", null, "b")))
    assert(mismatches(edge).isEmpty, mismatches(edge).mkString("\n"))
    val prop = Prop.forAll(Gen.listOfN(60, tokenArray)) { arrays =>
      val bad = mismatches(arrays)
      Prop(bad.isEmpty) :| bad.mkString("\n")
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(result.passed, result.status.toString)
  }

  test("Shingles equals the HOF shingle formula for n = 1..5 (codegen)") {
    checkProperty()
  }

  test("Shingles equals the HOF shingle formula for n = 1..5 (interpreted)") {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      checkProperty()
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a null token array yields one empty shingle, never null") {
    val df = spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS t")
    val out = df.select(TextFunctions.shinglesFromTokens(col("t"), 3)).collect().head
    assert(out.getSeq[String](0) == Seq(""))
    assert(!df.select(TextFunctions.shinglesFromTokens(col("t"), 3)).schema.head.nullable)
  }
}
