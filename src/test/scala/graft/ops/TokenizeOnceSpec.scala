package graft.ops

import graft.SparkTestBase
import graft.functions.ShinglesSpec.hofShingles
import graft.functions.TextFunctions.{h64, tokens}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, RegExpReplace, StringSplit}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The corpus operators that cut shingles or stepped spans tokenize each
  * row once. Their outputs are pinned against the higher-order-lambda
  * formulas they were first written as (spec-local copies below, over
  * the builtin [[hofShingles]]), and their optimized plans must keep
  * every tokenizer out of lambda bodies, where it would run once per
  * element. */
class TokenizeOnceSpec extends AnyFunSuite with SparkTestBase {

  private def wordShingles(c: Column, n: Int): Column = hofShingles(tokens(c), n)

  // ---- the lambda formulations, as the operators first shipped ----

  private def repetitionSignalsRef(df: DataFrame): DataFrame = {
    def frac(num: Column, den: Column): Column =
      when(den === 0, lit(0.0)).otherwise(num.cast("double") / den.cast("double"))
    val bg = wordShingles(col("text"), 2)
    val tg = wordShingles(col("text"), 3)
    val topBg = array_max(transform(graft.functions.tokenCounts(bg),
      x => x.getField("tf")))
    val dupTg = aggregate(graft.functions.tokenCounts(tg), lit(0L),
      (acc, x) => acc + when(x.getField("tf") >= 2, x.getField("tf")).otherwise(lit(0L)))
    df.select(col("id"),
      frac(topBg, size(bg)).as("top_bigram_frac"),
      frac(dupTg, size(tg)).as("dup_trigram_frac"))
  }

  private def removeBoilerplateRef(df: DataFrame, unit: Int, maxDf: Long): DataFrame = {
    val spanTexts = transform(
      sequence(lit(1), greatest(size(tokens(col("text"))), lit(1)), lit(unit)),
      st => concat_ws(" ", slice(tokens(col("text")), st, lit(unit))))
    val spans = df.select(col("id"),
      posexplode(transform(spanTexts, s => h64(s))).as(Seq("graft_pos", "graft_fp")))
    val boiler = spans.select(col("id"), col("graft_fp")).distinct()
      .groupBy("graft_fp").agg(count(lit(1)).as("graft_df"))
      .filter(col("graft_df") > maxDf)
    val keptIds = spans.join(boiler.select("graft_fp"), Seq("graft_fp"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("graft_n_kept"),
        array_sort(collect_list(col("graft_pos"))).as("graft_kept"))
    df.join(keptIds, Seq("id"), "left")
      .select(col("id"),
        size(spanTexts).cast("long").as("n_spans"),
        coalesce(col("graft_n_kept"), lit(0L)).as("n_kept"),
        array_join(filter(spanTexts,
          (_, i) => array_contains(
            coalesce(col("graft_kept"), array().cast("array<int>")), i)),
          " ").as("clean_text"))
  }

  private def chunkRef(df: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    val toks = tokens(col("text"))
    val starts = sequence(lit(1), greatest(size(toks), lit(1)), lit(stride))
    df.select(col("id"), posexplode(transform(starts,
        st => slice(toks, st, lit(chunkSize)))).as(Seq("chunk_id", "graft_chunk")))
      .select(col("id"), col("chunk_id"),
        size(col("graft_chunk")).as("n_chunk_tokens"),
        concat_ws(" ", col("graft_chunk")).as("chunk_text"))
  }

  private def frequentNgramsRef(df: DataFrame, n: Int, minDocFreq: Int): DataFrame =
    df.select(col("id").as("doc"), explode(wordShingles(col("text"), n)).as("ngram"))
      .groupBy("doc", "ngram").agg(count(lit(1)).as("tf"))
      .groupBy("ngram")
      .agg(sum("tf").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocFreq)

  private def jaccardRef(a: Column, b: Column, n: Int): Column = {
    val sa = array_distinct(wordShingles(a, n))
    val sb = array_distinct(wordShingles(b, n))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  private def bigramLmRef(df: DataFrame): DataFrame = {
    val big = df.filter(size(tokens(col("text"))) >= 2)
      .select(explode(hofShingles(tokens(col("text")), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val prefix = big.groupBy("w1").agg(sum("c12").as("c1"))
    big.join(prefix, Seq("w1"))
      .select(col("w1"), substring_index(col("bigram"), " ", -1).as("w2"),
        col("c12"), col("c1"),
        (col("c12").cast("double") / col("c1").cast("double")).as("p"))
  }

  private def lmScoreRef(df: DataFrame, scale: Long = 1000000000L): DataFrame = {
    val docBg = df.filter(size(tokens(col("text"))) >= 2)
      .select(col("id").as("doc"),
        explode(hofShingles(tokens(col("text")), 2)).as("bigram"))
    val c12 = docBg.groupBy("bigram").agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val lm = c12.join(c1, Seq("w1"))
      .select(col("bigram"), expr(s"(c12 * ${scale}L) div c1").as("p_scaled"))
    docBg.join(lm, Seq("bigram"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_bigrams"), sum("p_scaled").as("score"))
      .select(col("doc"), col("n_bigrams"), col("score"),
        expr("score div n_bigrams").as("mean_p"))
  }

  // ---- fixture ----

  private val texts: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "  the quick brown fox\tjumps over\nthe lazy dog  ",
    "\tleading tab and trailing newline\n",
    "home about contact the quick brown fox jumps over the lazy dog all rights reserved",
    "home about contact something else entirely here all rights reserved",
    "a a a a a a a a a a a a a",
    "x\t\ty  z x y z",
    "word", "two words", "   ", "\n\n", "", null)

  /** Built from an RDD so the operators' projections stay in the
    * optimized plan (a local relation would fold them away). */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 3)
      .toDF("id", "text")
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def operators: Seq[(String, DataFrame, DataFrame)] = Seq(
    ("repetitionSignals", CorpusOps.repetitionSignals(docs, "id", "text"),
      repetitionSignalsRef(docs)),
    ("removeBoilerplate", CorpusOps.removeBoilerplate(docs, "id", "text", unit = 3, maxDf = 1),
      removeBoilerplateRef(docs, 3, 1)),
    ("chunk", CorpusOps.chunk(docs, "id", "text", size = 4, stride = 3),
      chunkRef(docs, 4, 3)),
    ("frequentNgrams", CorpusOps.frequentNgrams(docs, "id", "text", n = 2, minDocFreq = 1),
      frequentNgramsRef(docs, 2, 1)),
    ("Dedup.jaccard", docs.select(col("id"),
        Dedup.jaccard(col("text"), concat_ws(" ", col("text"), lit("the lazy dog")), 2)),
      docs.select(col("id"),
        jaccardRef(col("text"), concat_ws(" ", col("text"), lit("the lazy dog")), 2))))

  test("shingle and span operators return the rows of their lambda formulas") {
    for ((name, got, want) <- operators) {
      val (g, w) = (rows(got), rows(want))
      assert(g.nonEmpty, name)
      assert(g == w, s"$name differs from its lambda formula")
    }
    assert(rows(CorpusOps.bigramLm(docs, "id", "text")) == rows(bigramLmRef(docs)))
    assert(rows(CorpusOps.lmScore(docs, "id", "text")) == rows(lmScoreRef(docs)))
  }

  /** Lambda bodies of `df`'s optimized plan that run the tokenizer. */
  private def tokenizingLambdas(df: DataFrame) =
    df.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case l: LambdaFunction => l.function })
      .filter(_.exists(e => e.isInstanceOf[RegExpReplace] || e.isInstanceOf[StringSplit]))

  test("no tokenizer is left inside a lambda body of the optimized plans") {
    // a token column projected once but read once, inside a lambda, is
    // inlined back into the lambda by CollapseProject: the check must see
    // through that
    val undone = docs.select(tokens(col("text")).as("t"))
      .select(transform(sequence(lit(1), lit(3)), i => element_at(col("t"), i)))
    assert(tokenizingLambdas(undone).nonEmpty)
    val offenders = operators.collect {
      case (name, got, _) if tokenizingLambdas(got).nonEmpty => name
    }
    assert(offenders.isEmpty, s"tokenizer inside a lambda in: ${offenders.mkString(", ")}")
  }
}
