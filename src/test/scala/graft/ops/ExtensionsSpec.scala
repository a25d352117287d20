package graft.ops

import graft.SparkTestBase
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite with SparkTestBase {
  import TextFunctions._
  // the builtin side of the kernel-equivalence tests (wordShingles is
  // itself the Shingles kernel, so it cannot serve as the reference)
  import graft.functions.ShinglesSpec.hofShingles

  private def one(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c).collect().head.get(0)

  test("tokens and tokenCount handle empties and whitespace runs") {
    assert(one(tokenCount(lit("  the  quick\tfox "))) == 3)
    assert(one(tokenCount(lit(""))) == 0)
    assert(one(tokenCount(lit("   "))) == 0)
  }

  test("wordShingles produces n-grams; short texts give one shingle") {
    val sh = one(wordShingles(lit("a b c d"), 3)).asInstanceOf[scala.collection.Seq[String]]
    assert(sh == Seq("a b c", "b c d"))
    val short = one(wordShingles(lit("a b"), 3)).asInstanceOf[scala.collection.Seq[String]]
    assert(short == Seq("a b"))
  }

  test("shingle_hash64 kernel equals the builtin distinct-shingle-hash chain") {
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "a b", "", "   ", "x Y  z x Y  z", "solo")
    texts.foreach { t =>
      val builtin = one(transform(
        array_distinct(hofShingles(tokens(lit(t)), 3)), s => h64(s)))
        .asInstanceOf[scala.collection.Seq[Long]]
      val kernel = one(graft.functions.shingleHash64(tokens(lit(t)), 3))
        .asInstanceOf[scala.collection.Seq[Long]]
      assert(kernel == builtin, s"for input '$t'")
    }
  }

  test("minhash_sig kernel equals the builtin transform/array_min fold") {
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "a b", "x Y  z x Y  z", "solo")
    val seeds = Dedup.minhashSeeds(12)
    texts.foreach { t =>
      val hashes = graft.functions.shingleHash64(tokens(lit(t)), 3)
      val builtin = one(transform(array(seeds.map(lit): _*),
        s => array_min(transform(hashes, h => h.bitwiseXOR(s)))))
        .asInstanceOf[scala.collection.Seq[Long]]
      val kernel = one(graft.functions.minhashSig(hashes, seeds))
        .asInstanceOf[scala.collection.Seq[Long]]
      assert(kernel == builtin, s"for input '$t'")
    }
  }

  test("minhash_sig edge semantics equal array_min: empty → empty, all-null → nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Long](7L, 12L)),
      (2L, Seq[java.lang.Long]()),
      (3L, Seq[java.lang.Long](null, null))).toDF("id", "h")
    val seeds = Dedup.minhashSeeds(3)
    val kernel = df.select(col("id"), graft.functions.minhashSig(col("h"), seeds))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val builtin = df.select(col("id"), transform(array(seeds.map(lit): _*),
        s => array_min(transform(col("h"), x => x.bitwiseXOR(s)))))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(kernel(1L) == builtin(1L))
    assert(kernel(2L) == builtin(2L) && kernel(2L).forall(_ == null))
    assert(kernel(3L) == builtin(3L) && kernel(3L).forall(_ == null))
  }

  test("positional shingle_hash64 keeps order and duplicates (winnowing head)") {
    val texts = Seq("a b a b a b", "x y", "", "one two three four")
    texts.foreach { t =>
      val builtin = one(transform(hofShingles(tokens(lit(t)), 2), s => h64(s)))
        .asInstanceOf[scala.collection.Seq[Long]]
      val kernel = one(graft.functions.shingleHashSeq64(tokens(lit(t)), 2))
        .asInstanceOf[scala.collection.Seq[Long]]
      assert(kernel == builtin, s"for input '$t'")
    }
    // "a b a b a b" has repeating bigrams: positional form keeps them
    val rep = one(graft.functions.shingleHashSeq64(tokens(lit("a b a b a b")), 2))
      .asInstanceOf[scala.collection.Seq[Long]]
    assert(rep.length == 5 && rep.distinct.length == 2)
  }

  test("window_min64 kernel equals the builtin sliding-min chain") {
    val arrs = Seq(Seq(5L, 3L, 8L, 1L, 9L, 2L), Seq(7L), Seq(4L, 4L, 4L),
      Seq(9L, 8L, 7L, 6L, 5L), Seq(1L, 2L, 3L, 4L, 5L))
    for (w <- Seq(1, 3, 4, 7); a <- arrs) {
      val h = array(a.map(lit): _*)
      val builtin = one(array_distinct(transform(
        sequence(lit(1), greatest(size(h) - (w - 1), lit(1))),
        i => array_min(slice(h, i, lit(w))))))
        .asInstanceOf[scala.collection.Seq[Long]]
      val kernel = one(graft.functions.windowMin64(h, w))
        .asInstanceOf[scala.collection.Seq[Long]]
      assert(kernel == builtin, s"for $a w=$w")
    }
  }

  test("lang_id kernel equals the builtin stopword-argmax formulation") {
    import spark.implicits._
    val texts = Seq("the cat sat on the mat and it was good",
      "der hund und die katze sind zu haus", "el perro es un animal en la casa",
      "le chat est dans la maison que les gens aiment",
      "nothing matching here whatsoever", "", "de la") // 'de' ties es/fr ambiguity
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
    val rows = df.select(langId(col("t")).as("k"), langIdBuiltin(col("t")).as("b"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("h64 equals first 15 md5 hex chars as long") {
    val expected = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest("abc".getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15), 16)
    assert(one(h64(lit("abc"))) == expected)
  }

  test("langId picks the stopword-richest language, 'und' when none") {
    assert(one(langId(lit("the cat sat on the mat and it was good"))) == "en")
    assert(one(langId(lit("der hund und die katze ist ein tier"))) == "de")
    assert(one(langId(lit("xyzzy plugh"))) == "und")
  }

  test("qualityScore is within [0,1] and penalizes punctuation soup") {
    val good = one(qualityScore(lit("a sensible sentence with reasonable words here"))).asInstanceOf[Double]
    val bad = one(qualityScore(lit("!!! ??? ,,, ... ;;; :::"))).asInstanceOf[Double]
    assert(good >= 0.0 && good <= 1.0 && bad >= 0.0 && bad <= 1.0)
    assert(good > bad)
  }

  test("bpeTokenCount counts GPT-style pre-tokens") {
    assert(one(bpeTokenCount(lit("hello, world! x2"))) == 6L)
  }
}

class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {
  import TextFunctions.tokens

  private def deepMsg(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("table functions validate arity with a named error") {
    graft.GraftExtensions.register(spark)
    // missing argument: must name the function + signature, never a
    // bare IndexOutOfBoundsException
    val e1 = intercept[Throwable] {
      spark.sql("SELECT * FROM graft_stats('/nonexistent')").collect()
    }
    assert(deepMsg(e1).contains("graft_stats"), deepMsg(e1))
    // surplus argument: must FAIL, not silently ignore the extra column
    val e2 = intercept[Throwable] {
      spark.sql("SELECT * FROM graft_stats('/a', 'k', 'v')").collect()
    }
    assert(deepMsg(e2).contains("graft_stats"), deepMsg(e2))
    val e3 = intercept[Throwable] {
      spark.sql("SELECT * FROM graft_snapshot('/a', '/b', '/c')").collect()
    }
    assert(deepMsg(e3).contains("graft_snapshot"), deepMsg(e3))
    val e4 = intercept[Throwable] {
      spark.sql("SELECT * FROM graft_commit('/a', '/b')").collect()
    }
    assert(deepMsg(e4).contains("graft_commit"), deepMsg(e4))
    val e5 = intercept[Throwable] {
      spark.sql("SELECT * FROM graft_merge('/a')").collect()
    }
    assert(deepMsg(e5).contains("graft_merge"), deepMsg(e5))
  }

  test("SQL branch surface: commit, merge and lineage round-trip") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqlbranch").toString
    (0L until 40L).map(i => (i, i % 3)).toDF("k", "v")
      .write.parquet(s"$tmp/in0")
    (40L until 60L).map(i => (i, i % 3)).toDF("k", "v")
      .write.parquet(s"$tmp/in1")
    spark.sql(s"SELECT * FROM graft_commit('$tmp/t', '$tmp/in0', 'k')")
      .write.parquet(s"$tmp/m0")
    spark.sql(s"SELECT * FROM graft_commit('$tmp/t', '$tmp/in1', 'k')")
      .write.parquet(s"$tmp/m1")
    // each persisted commit manifest serves an isolated snapshot
    assert(spark.sql(s"SELECT * FROM graft_snapshot('$tmp/t', '$tmp/m0')")
      .count() === 40L)
    spark.sql(s"SELECT * FROM graft_merge('$tmp/m0', '$tmp/m1')")
      .write.parquet(s"$tmp/mAll")
    // merge is idempotent at the file level (scheme-insensitive)
    assert(spark.sql(s"SELECT * FROM graft_merge('$tmp/mAll', '$tmp/m0')")
      .count() ===
      spark.read.parquet(s"$tmp/mAll").count())
    // lineage: two commits, each with its slice signature
    val lin = spark.sql(
      s"""SELECT COUNT(*) AS n, MIN(k) AS lo, MAX(k) AS hi
         |FROM graft_lineage('$tmp/t', '$tmp/mAll')
         |GROUP BY commit_id ORDER BY lo""".stripMargin).collect()
    assert(lin.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((40L, 0L, 39L), (20L, 40L, 59L)))
  }

  test("graft_budget_mix TVF equals CorpusOps.budgetedMix (arg wiring)") {
    // an idCol/textCol swap (or any other argument-wiring mistake) in
    // the TVF builder must fail here, not ship silently
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqlmix").toString
    val docs = (0 until 60).map { i =>
      (i.toLong, ("tok " * (i % 9 + 1)).trim, s"src${i % 3}")
    }.toDF("doc_id", "text", "source")
    val budgets = Seq(("src0", 30L), ("src1", 9L), ("src2", 55L))
      .toDF("source", "budget")
    docs.write.parquet(s"$tmp/docs")
    budgets.write.parquet(s"$tmp/budgets")
    val viaSql = spark.sql(
      s"""SELECT doc_id, source, n_tokens
         |FROM graft_budget_mix('$tmp/docs', 'doc_id', 'text', 'source',
         |                      '$tmp/budgets', 8)
         |ORDER BY doc_id""".stripMargin).collect().toSeq
    val viaApi = CorpusOps.budgetedMix(docs, "doc_id", "text", "source",
        budgets, bucketSize = 8L)
      .select("doc_id", "source", "n_tokens")
      .orderBy("doc_id").collect().toSeq
    assert(viaSql === viaApi)
    assert(viaSql.nonEmpty && viaSql.size < 60,
      "fixture should admit a strict subset so the prefix rule is exercised")
  }

  test("graft_optimize_zorder TVF clusters, folds the DV, and matches the API path") {
    // arg wiring: a swapped xCol/yCol or dropped DV fold must fail here
    graft.GraftExtensions.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqlzo").toString
    spark.range(1024).select(col("id"), (col("id") % 32).as("x"),
        (col("id") / 32).cast("long").as("y"))
      .repartitionByRange(8, col("id")).write.parquet(s"$tmp/t")
    Layout.statsManifest(spark, s"$tmp/t", Seq("x", "y"))
      .write.parquet(s"$tmp/m1")
    Layout.deletionVectorsForKeys(spark, s"$tmp/t",
        spark.range(1024).filter(col("id") % 7 === 0).select("id"), "id")
      .write.parquet(s"$tmp/dv1")
    Catalog.commit(spark, s"$tmp/cat",
      Map("manifest" -> s"$tmp/m1", "dv" -> s"$tmp/dv1"))
    val m2 = spark.sql(
      s"""SELECT * FROM graft_optimize_zorder('$tmp/t', '$tmp/cat',
         |  '$tmp/art', 'x', 'y', 5, 16, 'x,y')""".stripMargin)
    assert(m2.count() === 16L)
    val refs2 = Catalog.resolve(spark, s"$tmp/cat", 2)
    assert(!refs2.contains("dv"))
    // content parity with the version-1 merge-on-read world
    val live = spark.sql(
      s"SELECT id FROM graft_catalog_read('$tmp/t', '$tmp/cat', 2)")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(live === (0L until 1024L).filterNot(_ % 7 == 0))
    // and x-stats are now selective (row-ordered write scattered x)
    assert(m2.filter(col("max_x") >= 3 && col("min_x") <= 4).count() < 16)
    // the delta twin from SQL: append a wave via commitAppend (the
    // documented post-optimize manifest-growth discipline), commit,
    // then cluster only the new files
    val add = Layout.commitAppend(spark,
      spark.range(1024, 1280).select(col("id"), (col("id") % 32).as("x"),
        ((col("id") - 1024) / 8).cast("long").as("y")),
      s"$tmp/t", Seq("x", "y"))
    spark.read.parquet(Catalog.ref(spark, s"$tmp/cat", 2, "manifest"))
      .unionByName(add).write.parquet(s"$tmp/m3")
    Catalog.commit(spark, s"$tmp/cat", Map("manifest" -> s"$tmp/m3"))
    val m4 = spark.sql(
      s"""SELECT * FROM graft_optimize_zorder_delta('$tmp/t', '$tmp/cat',
         |  '$tmp/art', 2, 'x', 'y', 5, 4, 'x,y')""".stripMargin)
    val live4 = spark.sql(
      s"SELECT id FROM graft_catalog_read('$tmp/t', '$tmp/cat', 4)")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(live4 ===
      ((0L until 1024L).filterNot(_ % 7 == 0) ++ (1024L until 1280L)))
    assert(m4.count() === 20L) // 16 base files kept + 4 delta-clustered
  }

  test("SQL-registered kernels match the Column API results") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "der hund und die katze sind zu haus",
      "").toDF("text")
      .withColumn("toks", tokens(col("text")))
    df.createOrReplaceTempView("graft_ext_probe")
    val viaSql = spark.sql(
      """SELECT simhash60(toks) AS sh, lang_id(toks) AS lang,
        |  shingle_hash64(toks, 3) AS hs,
        |  window_min64(shingle_hash_seq64(toks, 3), 2) AS wm,
        |  minhash_sig(shingle_hash64(toks, 3), 4) AS sig
        |FROM graft_ext_probe""".stripMargin).collect()
    val viaApi = df.select(
      graft.functions.simhash60(col("toks")).as("sh"),
      TextFunctions.langId(col("text")).as("lang"),
      graft.functions.shingleHash64(col("toks"), 3).as("hs"),
      graft.functions.windowMin64(
        graft.functions.shingleHashSeq64(col("toks"), 3), 2).as("wm"),
      graft.functions.minhashSig(
        graft.functions.shingleHash64(col("toks"), 3),
        Dedup.minhashSeeds(4)).as("sig")).collect()
    assert(viaSql.toSeq.map(_.toSeq) == viaApi.toSeq.map(_.toSeq))

    val dots = spark.sql(
      "SELECT array_dot(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>), " +
        "CAST(array(3.0, 0.5) AS ARRAY<DOUBLE>)) AS d").collect()
    assert(dots.head.getDouble(0) == 4.0)

    // non-literal kernel parameters are rejected with a clear message
    val err = intercept[Exception](
      spark.sql("SELECT shingle_hash64(toks, length(text)) FROM graft_ext_probe")
        .collect())
    assert(err.getMessage.contains("integer literal"))
  }
  test("graft_join_skip TVF equals the Scala path; dimWhere arg applies before key collection") {
    // arg wiring: swapped keyCol/dimKeyCol or a dropped dim filter must
    // fail here, not ship silently
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqljs").toString
    spark.range(1000).select(col("id").as("k"), (col("id") % 5).as("v"))
      .repartitionByRange(4, col("k")).write.parquet(s"$tmp/t")
    Layout.statsManifest(spark, s"$tmp/t", Seq("k")).write.parquet(s"$tmp/m")
    (0 until 1000 by 100).map(i => (i.toLong, i % 3))
      .toDF("fk", "size").write.parquet(s"$tmp/dim")
    val viaSql = spark.sql(
      s"""SELECT k, v FROM graft_join_skip('$tmp/t', '$tmp/m', 'k',
         |  '$tmp/dim', 'fk', 'size = 1') ORDER BY k""".stripMargin)
    val dim = spark.read.parquet(s"$tmp/dim").filter(col("size") === 1)
      .select(col("fk").as("k"))
    val viaApi = Layout.joinSkipRead(spark, s"$tmp/t",
        Some(spark.read.parquet(s"$tmp/m")), None, dim, "k")
      .select("k", "v").orderBy("k")
    assert(viaSql.collect().toSeq === viaApi.collect().toSeq)
    // the filtered dim spans [0, 900] step 300 -> fewer than 4 files
    // only when the filter was APPLIED (unfiltered keys hit all files);
    // k<300 keys live in file 1 of 4, so the admitted set must shrink
    val admitted = viaSql.inputFiles.length
    val unfiltered = spark.sql(
      s"""SELECT k FROM graft_join_skip('$tmp/t', '$tmp/m', 'k',
         |  '$tmp/dim', 'fk')""".stripMargin).inputFiles.length
    assert(admitted === 3, "filtered keys {100,400,700} span 3 of 4 files")
    assert(unfiltered === 4)
  }

  test("graft_merge_table TVF commits a merge-on-read wave and returns the version") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqlmg").toString
    spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(2, col("k")).write.parquet(s"$tmp/t")
    Layout.statsManifest(spark, s"$tmp/t", Seq("k")).write.parquet(s"$tmp/m0")
    Catalog.commit(spark, s"$tmp/cat", Map("manifest" -> s"$tmp/m0"))
    Seq((5L, 555L, false), (6L, 0L, true), (200L, 7L, false))
      .toDF("k", "v", "is_delete").write.parquet(s"$tmp/changes")
    val v = spark.sql(
      s"""SELECT version FROM graft_merge_table('$tmp/t', '$tmp/cat',
         |  '$tmp', '$tmp/changes', 'k', 'is_delete', 'k')""".stripMargin)
      .head().getInt(0)
    assert(v === 2)
    val refs = Catalog.resolve(spark, s"$tmp/cat", v)
    val got = Layout.snapshotReadWithDeletes(spark, s"$tmp/t",
        spark.read.parquet(refs("manifest")), spark.read.parquet(refs("dv")))
    assert(got.count() === 100) // -1 deleted +1 inserted
    assert(got.filter(col("k") === 5L).head().getLong(1) === 555L)
    assert(got.filter(col("k") === 6L).isEmpty)
  }

  test("graft_history lists every (version, artifact, ref) row in order") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqlhist").toString
    spark.range(10).select(col("id").as("k")).write.parquet(s"$tmp/t")
    Layout.statsManifest(spark, s"$tmp/t", Seq("k")).write.parquet(s"$tmp/m1")
    Catalog.commit(spark, s"$tmp/cat", Map("manifest" -> s"$tmp/m1"))
    Layout.deletionVectorsForKeys(spark, s"$tmp/t",
      Seq(3L).toDF("k"), "k").write.parquet(s"$tmp/dv2")
    Catalog.commit(spark, s"$tmp/cat",
      Map("manifest" -> s"$tmp/m1", "dv" -> s"$tmp/dv2"))
    val hist = spark.sql(s"SELECT * FROM graft_history('$tmp/cat')")
      .orderBy("version", "artifact")
      .as[(Int, String, String)].collect().toSeq
    assert(hist === Seq(
      (1, "manifest", s"$tmp/m1"),
      (2, "dv", s"$tmp/dv2"),
      (2, "manifest", s"$tmp/m1")))
  }

  test("graft_evolve TVF routes all four actions; unknown action refuses") {
    import spark.implicits._
    graft.GraftExtensions.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqlevo").toString
    val e1 = Seq((1, 10.0)).toDF("k", "amount")
    val map1 = SchemaEvolution.initial(spark, e1.schema)
    SchemaEvolution.toPhysical(e1, map1).write.parquet(s"$tmp/t")
    Layout.statsManifest(spark, s"$tmp/t", Seq("k")).write.parquet(s"$tmp/m")
    map1.write.parquet(s"$tmp/cm")
    Catalog.commit(spark, s"$tmp/cat",
      Map("manifest" -> s"$tmp/m", "colmap" -> s"$tmp/cm"))
    spark.sql(s"SELECT * FROM graft_evolve('$tmp/cat', '$tmp', " +
      "'rename', 'amount', 'balance')").collect()
    spark.sql(s"SELECT * FROM graft_evolve('$tmp/cat', '$tmp', " +
      "'retype', 'k', 'bigint')").collect()
    spark.sql(s"SELECT * FROM graft_evolve('$tmp/cat', '$tmp', " +
      "'add', 'tag', 'string')").collect()
    spark.sql(s"SELECT * FROM graft_evolve('$tmp/cat', '$tmp', " +
      "'drop', 'tag', '')").collect()
    val got = spark.sql(s"SELECT * FROM graft_read_evolved('$tmp/cat', 5)")
    assert(got.columns.toSeq === Seq("k", "balance"))
    assert(got.schema("k").dataType.simpleString === "bigint")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_evolve('$tmp/cat', '$tmp', " +
        "'explode', 'k', '')").collect()
    }
    assert(e.getMessage.contains("unknown action"))
  }
}


class DedupSpec extends AnyFunSuite with SparkTestBase {

  private val docs = spark.sql(
    """SELECT * FROM VALUES
      | (0, 'the quick brown fox jumps over the lazy dog again and again'),
      | (1, 'the quick brown fox jumps over the lazy dog again and again'),
      | (2, 'the quick brown fox jumps over the lazy dog again and AGAIN'),
      | (3, 'completely different text about spark query engines at scale'),
      | (4, 'the quick brown fox jumps over the lazy cat again and again')
      | AS t(doc_id, text)""".stripMargin)

  test("exact dedup groups identical normalized texts") {
    val d = Dedup.exact(docs, "doc_id", "text").orderBy("keep_id").collect()
    // 0,1,2 normalize identically (case-folded) → one group of 3
    assert(d.length == 3)
    val g = d.find(_.getAs[Int]("keep_id") == 0).get
    assert(g.getAs[Long]("n_copies") == 3)
  }

  test("minhash LSH finds near-duplicates and skips unrelated text") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 12, bands = 6,
      shingleSize = 3, tau = 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 0,1,2 normalize identically → pre-collapsed to representative 0
    assert(!pairs.exists(p => Set(p._1, p._2).intersect(Set(1L, 2L)).nonEmpty))
    assert(pairs.contains((0L, 4L))) // one-word change, found via the representative
    assert(!pairs.exists(p => p._1 == 3 || p._2 == 3)) // unrelated doc never pairs
  }

  test("nearDupFilter admits only genuinely fresh batch content") {
    val idx = Dedup.nearDupIndex(docs, "doc_id", "text",
      k = 12, bands = 6, shingleSize = 3)
    val batch = spark.sql(
      """SELECT * FROM VALUES
        | (10, 'completely different text about spark query engines at scale'),
        | (11, 'the quick brown fox jumps over the lazy dog again and again zzz'),
        | (12, 'entirely novel content nothing like anything in the corpus today'),
        | (13, 'shared fresh text that appears twice inside this batch alone'),
        | (14, 'shared fresh text that appears twice inside this batch alone')
        | AS t(doc_id, text)""".stripMargin)
    // 10 = exact corpus copy (fingerprint hit); 11 = near-dup of doc 0
    // (jaccard 10/11 via the band probe); 12 = fresh; 13/14 collapse to
    // the min-id intra-batch representative
    val kept = Dedup.nearDupFilter(idx, batch, "doc_id", "text", tau = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(12L, 13L))

    // the persisted index admits the identical set after a disk round
    // trip — params (k, bands, shingleSize) travel with the tables
    val dir = java.nio.file.Files.createTempDirectory("ndidx").toString
    Dedup.NearDupIndex.save(idx, dir)
    val loaded = Dedup.NearDupIndex.load(dir)
    assert(loaded.k === idx.k && loaded.nBands === idx.nBands &&
      loaded.shingleSize === idx.shingleSize)
    val keptLoaded = Dedup.nearDupFilter(loaded, batch, "doc_id", "text", tau = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptLoaded === kept)
  }

  test("static-index admission is batch-invariant once exact dups are pre-collapsed") {
    val idx = Dedup.nearDupIndex(docs, "doc_id", "text",
      k = 12, bands = 6, shingleSize = 3)
    val batch = spark.sql(
      """SELECT * FROM VALUES
        | (20, 'completely different text about spark query engines at scale'),
        | (21, 'entirely novel content nothing like anything in the corpus today'),
        | (22, 'shared fresh text that appears twice inside this feed alone'),
        | (23, 'shared fresh text that appears twice inside this feed alone'),
        | (24, 'one more genuinely new document with its own wording entirely')
        | AS t(doc_id, text)""".stripMargin)
    val collapsed = Dedup.collapseExactText(batch, "doc_id", "text")
      .localCheckpoint(eager = true)
    def admit(df: org.apache.spark.sql.DataFrame) =
      Dedup.nearDupFilter(idx, df, "doc_id", "text", tau = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val whole = admit(collapsed)
    // split the collapsed feed any way at all — per-batch admission
    // against the STATIC index unions to the whole-set answer (the s25
    // streaming contract); WITHOUT pre-collapse the 22/23 pair would
    // straddle the split and both would be admitted
    val parts = Seq(collapsed.filter(col("doc_id") % 2 === 0),
      collapsed.filter(col("doc_id") % 2 === 1))
    assert(parts.map(admit).reduce(_ ++ _) === whole)
    assert(admit(batch) === whole) // collapse is the filter's own stage 1
  }

  test("vectorNearDupFilter: static-index vector admission is batch-invariant") {
    import spark.implicits._
    val dim = 8
    def vec(active: Int, scale: Double): Seq[Double] =
      (0 until dim).map(d => if (d == active) scale else 0.01 * (d + 1))
    val corpus = Seq((0L, vec(0, 10.0)), (1L, vec(1, 10.0)),
      (2L, vec(2, 10.0)), (3L, vec(0, 9.9))).toDF("vec_id", "v")
    val idx = Dedup.vectorNearDupIndex(corpus, "vec_id", "v",
        dim = dim, bits = 6)
      .localCheckpoint(eager = true)
    val cand = Seq(
      (10L, vec(0, 10.0)),              // exact corpus copy → rejected
      (11L, vec(0, 10.5)),              // same direction, scaled (cos≈1) → rejected
      (12L, vec(4, 10.0)),              // fresh direction → admitted
      (13L, vec(0, 10.0).map(-_))       // antipode: every plane sign flips,
    ).toDF("vec_id", "v")               //   cos=−1 anyway → admitted
    def admit(df: org.apache.spark.sql.DataFrame) =
      Dedup.vectorNearDupFilter(idx, df, "vec_id", "v",
          dim = dim, bits = 6, tau = 0.8)
        .select("vec_id").as[Long].collect().toSet
    val whole = admit(cand)
    assert(whole === Set(12L, 13L))
    // per-batch admission against the STATIC index unions to the
    // whole-set answer under ANY split — the s29 streaming contract
    assert(admit(cand.filter(col("vec_id") % 2 === 0)) ++
      admit(cand.filter(col("vec_id") % 2 === 1)) === whole)
    assert(Seq(10L, 11L, 12L, 13L)
      .map(id => admit(cand.filter(col("vec_id") === id)))
      .reduce(_ ++ _) === whole)
  }

  test("VectorNearDupIndex: save/load round-trips; extend and remove " +
      "equal a rebuild over the surviving corpus") {
    import spark.implicits._
    val dim = 8
    def vec(active: Int, scale: Double): Array[Double] =
      Array.tabulate(dim)(d => if (d == active) scale else 0.01 * (d + 1))
    val corpus = Seq((0L, vec(0, 10.0)), (1L, vec(1, 10.0)),
      (2L, vec(2, 10.0)), (3L, vec(0, 10.0))).toDF("vec_id", "v")
    val idx = Dedup.vectorNearDupIndex(corpus, "vec_id", "v",
      dim = dim, bits = 6)
    val path = java.nio.file.Files
      .createTempDirectory("graft-vlsh").toString
    Dedup.VectorNearDupIndex.save(idx, dim = dim, bits = 6, path)
    val loaded = Dedup.VectorNearDupIndex.load(path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v", "bucket", "nrm").collect().map(_.toSeq).toSet
    assert(loaded.dim === dim && loaded.bits === 6)
    assert(rows(loaded.buckets) === rows(idx))
    // extend ≡ rebuild over corpus ∪ admitted (cap-cold)
    val admitted = Seq((10L, vec(4, 10.0)), (11L, vec(5, 10.0)))
      .toDF("vec_id", "v")
    val extended = Dedup.VectorNearDupIndex.extend(loaded.buckets, admitted,
      "vec_id", "v", dim = dim, bits = 6)
    val rebuiltUp = Dedup.vectorNearDupIndex(corpus.unionAll(admitted),
      "vec_id", "v", dim = dim, bits = 6)
    assert(rows(extended) === rows(rebuiltUp))
    // remove ≡ rebuild over survivors: vectors 0 and 3 are
    // bit-identical (one group, rep 0) — removing the whole group
    val after = Dedup.VectorNearDupIndex.remove(extended,
      Seq(0L).toDF("id"), "id")
    val rebuiltDown = Dedup.vectorNearDupIndex(
      corpus.filter(col("vec_id") === 1L || col("vec_id") === 2L)
        .unionAll(admitted), "vec_id", "v", dim = dim, bits = 6)
    assert(rows(after) === rows(rebuiltDown))
    // the takedown is observable: a copy of the removed vector
    // re-admits, a copy of a survivor still bounces
    val probe = Seq((100L, vec(0, 10.0)), (101L, vec(1, 10.0)))
      .toDF("vec_id", "v")
    val adm = Dedup.vectorNearDupFilter(after, probe, "vec_id", "v",
      dim = dim, bits = 6, tau = 0.8)
      .select("vec_id").as[Long].collect().toSet
    assert(adm === Set(100L))
  }

  test("NearDupIndex.extend equals a full rebuild on cap-cold data") {
    import spark.implicits._
    val idx = Dedup.nearDupIndex(docs, "doc_id", "text",
      k = 12, bands = 6, shingleSize = 3)
    val admitted = Seq(
      (20L, "completely novel admitted document about distributed joins"),
      (21L, "another fresh admitted row concerning register file merges"))
      .toDF("doc_id", "text")
    val extended = Dedup.NearDupIndex.extend(idx, admitted, "doc_id", "text")
    val rebuilt = Dedup.nearDupIndex(docs.unionAll(admitted), "doc_id", "text",
      k = 12, bands = 6, shingleSize = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(extended.fingerprints) === rows(rebuilt.fingerprints))
    assert(rows(extended.bands) === rows(rebuilt.bands))
    assert(rows(extended.hashes) === rows(rebuilt.hashes))
    assert(extended.k === rebuilt.k && extended.nBands === rebuilt.nBands)

    // remaining-capacity cap: a full bucket admits nothing new, existing
    // members are never evicted — growth degrades like the build path
    val capped = Dedup.NearDupIndex.extend(idx, admitted, "doc_id", "text",
      maxBucket = 0)
    assert(rows(capped.bands) === rows(idx.bands))
    // hash sets and fingerprints still union (verification stays exact)
    assert(capped.hashes.count() === idx.hashes.count() + 2)
  }

  test("NearDupIndex.remove equals a rebuild over survivors and " +
      "re-admits the forgotten content") {
    import spark.implicits._
    val idx = Dedup.nearDupIndex(docs, "doc_id", "text",
      k = 12, bands = 6, shingleSize = 3)
    // docs 0,1,2 normalize identically (one exact-dup group) and 4 is
    // its own group — remove the whole fox family, both groups closed
    // (the precondition); only 3 survives. 4 must go too for the
    // re-admission probe below: a copy of 0's text is a NEAR-dup of 4,
    // so with 4 still indexed it would bounce via LSH, not fingerprints
    val removed = docs.filter(col("doc_id") =!= 3)
    val after = Dedup.NearDupIndex.remove(idx, removed, "doc_id", "text")
    val rebuilt = Dedup.nearDupIndex(docs.filter(col("doc_id") === 3),
      "doc_id", "text", k = 12, bands = 6, shingleSize = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(after.fingerprints) === rows(rebuilt.fingerprints))
    assert(rows(after.bands) === rows(rebuilt.bands))
    assert(rows(after.hashes) === rows(rebuilt.hashes))
    assert(after.k === rebuilt.k && after.nBands === rebuilt.nBands &&
      after.shingleSize === rebuilt.shingleSize)

    // the observable takedown semantics: an exact copy of the removed
    // text is admissible again, while surviving content still bounces
    val probe = Seq(
      (50L, "the quick brown fox jumps over the lazy dog again and again"),
      (51L, "completely different text about spark query engines at scale"))
      .toDF("doc_id", "text")
    val admitted = Dedup.nearDupFilter(after, probe, "doc_id", "text",
      tau = 0.5).select("doc_id").as[Long].collect().toSet
    assert(admitted === Set(50L),
      "removed content must re-admit; surviving content must not")
    // and before the removal BOTH bounced
    val before = Dedup.nearDupFilter(idx, probe, "doc_id", "text",
      tau = 0.5).select("doc_id").as[Long].collect().toSet
    assert(before === Set.empty[Long])
  }

  test("simhash pairs finds low-hamming near-dups only") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L))) // hamming 5, colliding chunk
    assert(!pairs.exists(p => Set(p._1, p._2).intersect(Set(1L, 2L)).nonEmpty)) // collapsed
    assert(!pairs.exists(p => p._1 == 3 || p._2 == 3))
  }

  test("allPairsJaccard equals brute force: the prefix filter is lossless") {
    import spark.implicits._
    val corpus = (0L until 30L).map { i =>
      val base = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
        "eta", "theta").map(w => s"$w${i % 6}")
      (i, (base :+ s"unique$i").mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.allPairsJaccard(df, "doc_id", "text", shingleSize = 2, tau = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // brute force over 2-shingle string sets
    def shingles(t: String): Set[String] = {
      val ts = t.split(" ").toSeq
      (0 until math.max(ts.size - 1, 1)).map(i => ts.slice(i, i + 2).mkString(" ")).toSet
    }
    val want = (for {
      (i, ti) <- corpus; (j, tj) <- corpus if i < j
      si = shingles(ti); sj = shingles(tj)
      jac = si.intersect(sj).size.toDouble / si.union(sj).size.toDouble
      if jac >= 0.5
    } yield (i, j)).toSet
    assert(got === want)
    assert(want.nonEmpty) // the i%6 groups guarantee real near-dups
  }

  test("collapseClustersBest keeps the top-scoring member, min id on ties") {
    import spark.implicits._
    val docs = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (9L, 0.1)).toDF("doc_id", "q")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "cluster_rep")
    val got = Dedup.collapseClustersBest(docs, "doc_id", "q", clusters)
      .as[(Long, Long, Double, Long)].collect().toSet
    // cluster {1,2,3}: 2 and 3 tie at 0.9 → min id 2 wins; 9 is a singleton
    assert(got === Set((1L, 2L, 0.9, 3L), (9L, 9L, 0.1, 1L)))
  }

  test("containmentPairs equals brute force and catches excerpts Jaccard misses") {
    import spark.implicits._
    val full = (0L until 12L).map { i =>
      (i, (0 until 20).map(w => s"w${i % 4}_$w").mkString(" "))
    }
    // excerpts: first 5 words of each %4==0 doc — containment 1.0 in the
    // source, but Jaccard vs the 20-word source is ~4/19 < any useful tau
    val excerpts = full.filter(_._1 % 4 == 0).map { case (i, t) =>
      (i + 100L, t.split(" ").take(5).mkString(" ")) }
    val corpus = full ++ excerpts
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", shingleSize = 2, tau = 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    def shingles(t: String): Set[String] = {
      val ts = t.split(" ").toSeq
      (0 until math.max(ts.size - 1, 1)).map(i => ts.slice(i, i + 2).mkString(" ")).toSet
    }
    val want = (for {
      (i, ti) <- corpus; (j, tj) <- corpus if i != j
      si = shingles(ti); sj = shingles(tj)
      c = si.intersect(sj).size.toDouble / si.size.toDouble
      if c >= 0.8
    } yield (i, j)).toSet
    assert(got === want)
    // every excerpt is contained in its source (directed edge present) …
    assert(excerpts.forall { case (eid, _) => got.contains((eid, eid - 100L)) })
    // … and no 20-word source is "contained" in its 5-word excerpt
    assert(excerpts.forall { case (eid, _) => !got.contains((eid - 100L, eid)) })
  }

  test("containmentPairs posting cap: audit empty below the cap, bounded above it") {
    import spark.implicits._
    // clean corpus: no shingle is shared by more than a handful of docs,
    // so the default cap never bites and the result stays brute-force-exact
    val clean = (0L until 12L).map { i =>
      (i, (0 until 20).map(w => s"w${i % 4}_$w").mkString(" "))
    }.toDF("doc_id", "text")
    val (pairsClean, auditClean) = Dedup.containmentPairsAudited(
      clean, "doc_id", "text", shingleSize = 2, tau = 0.8, maxPosting = 1000)
    val exact = Dedup.containmentPairs(clean, "doc_id", "text",
      shingleSize = 2, tau = 0.8, maxPosting = Int.MaxValue)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairsClean.select("id1", "id2").as[(Long, Long)].collect().toSet === exact)
    assert(auditClean.count() === 0L) // empty audit certifies exactness

    // duplicate-heavy corpus: 60 byte-identical docs — every one of their
    // shingles has a 60-doc posting list. Uncapped, the prefix⋈index join
    // materializes O(60²) candidate rows in those keys; capped at 10, the
    // hot keys leave the index entirely (audited), so the candidate stage
    // stays O(distinct) instead of O(copies²).
    val dupText = (0 until 20).map(w => s"dup_$w").mkString(" ")
    val heavy = ((0L until 60L).map(i => (i, dupText)) ++
      Seq((100L, "lone wolf row one"), (101L, "another isolated doc here")))
      .toDF("doc_id", "text")
    val (pairsHeavy, auditHeavy) = Dedup.containmentPairsAudited(
      heavy, "doc_id", "text", shingleSize = 2, tau = 0.8, maxPosting = 10)
    assert(pairsHeavy.count() === 0L) // capped keys find no index rows
    // every dup-cluster shingle is audited with its true posting size
    val audited = auditHeavy.select("posting_sz").as[Long].collect()
    assert(audited.nonEmpty && audited.forall(_ === 60L))
  }

  test("hammingPairs64 equals brute force for hamming <= maxHamming (pigeonhole)") {
    import spark.implicits._
    // 64-bit keys engineered around a base value: flips of 1..5 bits
    val base = 0x5a5a5a5a5a5a5a5aL
    val rows = Seq(
      (0L, base), (1L, base ^ 1L), (2L, base ^ (1L << 20) ^ (1L << 40)),
      (3L, base ^ 7L), (4L, base ^ 0x0f0f0f0fL), (5L, base ^ (1L << 63)))
    val df = rows.toDF("id", "ph")
    val got = Dedup.hammingPairs64(df, "id", "ph", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val want = (for {
      (i, a) <- rows; (j, b) <- rows if i < j
      h = java.lang.Long.bitCount(a ^ b) if h <= 3
    } yield (i, j, h)).toSet
    assert(got === want)
    assert(want.contains((0L, 5L, 1))) // the sign-bit flip pair survives
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L)) // 8 bits away from base
  }

  test("bucket-cap audit: empty below the cap, quantified above it") {
    import spark.implicits._
    // 40 well-separated hashes: every (chunk, key) bucket is tiny
    val small = (0L until 40L).map(i => (i, i * 0x9e3779b97f4a7c15L)).toDF("id", "ph")
    val (pairs1, dropped1) =
      Dedup.hammingPairs64Audited(small, "id", "ph", maxHamming = 3, maxBucket = 1000)
    pairs1.count() // audit reads after consuming the pairs, as callers would
    assert(dropped1.count() === 0L) // cap never bit ⇒ result is brute-force-exact

    // a synthetic mega-cluster: 50 ids share one hash value, so all 4
    // (chunk, key) buckets hold 50 rows — over a cap of 10
    val mega = (0L until 50L).map(i => (i, 0x0123456789abcdefL)).toDF("id", "ph")
    val (pairs2, dropped2) =
      Dedup.hammingPairs64Audited(mega, "id", "ph", maxHamming = 3, maxBucket = 10)
    assert(pairs2.count() === 0L) // every candidate bucket was dropped...
    val d = dropped2.collect()
    assert(d.length === 4) // ...and the audit says exactly which: all 4 chunks
    assert(d.forall(_.getLong(2) === 50L)) // with their true size
  }

  test("simhash audit mirrors the hamming audit contract") {
    import spark.implicits._
    val clones = (0 until 30).map(i => (i.toLong, s"totally distinct text $i"))
      .toDF("doc_id", "text")
    val (_, dropped) =
      Dedup.simhashPairsAudited(clones, "doc_id", "text", maxHamming = 3, maxBucket = 1000)
    assert(dropped.count() === 0L)
    // all 30 texts share the template words, so simhashes cluster; a
    // cap of 1 drops every bucket that holds >= 2 rows
    val (pairsCapped, droppedCapped) =
      Dedup.simhashPairsAudited(clones, "doc_id", "text", maxHamming = 3, maxBucket = 1)
    val uncapped = Dedup.simhashPairs(clones, "doc_id", "text", maxHamming = 3).count()
    assert(pairsCapped.count() < uncapped || uncapped === 0L)
    assert(droppedCapped.count() > 0L)
  }

  test("exact-dup pre-collapse keeps LSH candidates O(cluster), not O(cluster squared)") {
    import spark.implicits._
    val base = (0 until 20).map(i =>
      (i.toLong, s"unique document number $i carrying distinctive words ${i * 7} plus ${i * 13} end"))
    val clones = (0 until 5000).map(i => (10000L + i, base.head._2)) // one giant exact-dup cluster
    val near = Seq((99999L, base.head._2 + " tail"))
    val corpus = (base ++ clones ++ near).toDF("doc_id", "text")

    val nCands = Dedup.minhashCandidates(corpus, "doc_id", "text",
      k = 12, bands = 6, shingleSize = 3, maxBucket = 1000).count()
    // 5001 copies collapse to ONE representative pre-banding: candidates are
    // bounded by pairs among the 21 distinct texts (≤ 210), not ~12.5M
    assert(nCands <= 210, s"candidate blowup: $nCands")

    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      k = 12, bands = 6, shingleSize = 3, tau = 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 99999L))) // near-dup of the cluster still found
  }

  test("oversized buckets are dropped by the maxBucket cap") {
    assert(Dedup.minhashCandidates(docs, "doc_id", "text",
      k = 12, bands = 6, shingleSize = 3, maxBucket = 0).count() == 0)
    assert(Dedup.simhashCandidates(docs, "doc_id", "text",
      maxHamming = 6, maxBucket = 0).count() == 0)
  }

  test("connected components label every node with its component minimum") {
    import spark.implicits._
    // two components: a 4-node chain (min 1) and a triangle (min 10),
    // chain forces multi-pass propagation
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("id1", "id2")
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("connected components converge on a 100-node chain (pointer jumping)") {
    import spark.implicits._
    // a path graph has diameter 99: plain min-propagation would need ~99
    // passes and blow the maxIter cap; pointer jumping halves chains
    val pairs = (1 until 100).map(i => (i.toLong, (i + 1).toLong)).toDF("id1", "id2")
    val labels = Dedup.connectedComponents(pairs, maxIter = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 100)
    assert(labels.values.forall(_ == 1L))
  }

  test("connected components cluster LSH pairs into dedup groups") {
    import spark.implicits._
    val base = (0 until 10).map(i =>
      (i.toLong, s"document number $i holding words ${i * 3} and ${i * 11} tail"))
    val variants = base.take(2).flatMap { case (id, text) =>
      Seq((100 + id, text + " v1"), (200 + id, text + " v2")) }
    val corpus = (base ++ variants).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      k = 12, bands = 6, shingleSize = 3, tau = 0.5)
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each variant clusters back to its base doc's id
    assert(labels(100L) == 0L && labels(200L) == 0L)
    assert(labels(101L) == 1L && labels(201L) == 1L)
  }

  test("dedupCorpus keeps one canonical doc per exact AND near-dup cluster") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, base),                     // canonical of the near-dup cluster
      (2L, base),                     // exact dup of 1 → dropped at collapse
      (3L, base + " tail"),           // near dup of 1 → dropped by clustering
      (4L, "completely different text about spark catalyst optimizers"),
      (5L, "Completely  different TEXT about spark catalyst optimizers"), // exact dup of 4 after normalization
      (6L, "unrelated third document mentioning neither of the others"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(df, "doc_id", "text",
        k = 12, bands = 6, shingleSize = 3, tau = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 6L))
  }

  test("blocked jaccard pairs computes exact overlap") {
    val blocked = docs.withColumn("blk", lit(1))
    val rows = Dedup.jaccardPairsBlocked(blocked, "doc_id", "text", "blk",
      shingleSize = 3, tau = 0.99)
      .select("id1", "id2", "jaccard").collect()
    // only the identical/normalized-identical trio reaches jaccard 1.0
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSet == Set((0, 1), (0, 2), (1, 2)))
    assert(rows.forall(_.getDouble(2) == 1.0))
  }

  test("embedding cosine pairs within blocks") {
    val emb = spark.sql(
      """SELECT * FROM VALUES
        | (0, 0, array(1.0D, 0.0D)), (1, 0, array(0.999D, 0.01D)),
        | (2, 0, array(0.0D, 1.0D)), (3, 1, array(1.0D, 0.0D))
        | AS t(id, label, vec)""".stripMargin)
    val pairs = Dedup.embeddingCosinePairs(emb, "id", "vec", "label", tau = 0.99)
      .select("id1", "id2").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(pairs == Set((0, 1))) // 2 is orthogonal; 3 is in another block
  }
}

class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import graft.functions.simhash60

  test("rrfFuse: fixed-point RRF, docs in both lists outrank either list's top") {
    import spark.implicits._
    val lex = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L)).toDF("qid", "id", "rank")
    val sem = Seq((0L, 11L, 1L), (0L, 12L, 2L), (0L, 13L, 3L)).toDF("qid", "id", "rank")
    val got = Similarity.rrfFuse(Seq(lex, sem), "qid", "id", "rank", k = 4)
      .select("rank", "id", "rrf_score")
      .as[(Long, Long, Long)].collect().toList.sortBy(_._1)
    def c(r: Long) = 1000000000000L / (60L + r)
    val scores = Map(10L -> c(1), 11L -> (c(2) + c(1)), 12L -> (c(3) + c(2)), 13L -> c(3))
    val want = scores.toList.sortBy { case (id, sc) => (-sc, -id) }
      .zipWithIndex.map { case ((id, sc), i) => (i + 1L, id, sc) }
    assert(got === want)
    // both-list docs 11 and 12 beat single-list rank-1 doc 10
    assert(got.take(2).map(_._2).toSet === Set(11L, 12L))
  }

  test("mmrRerank: diversity demotes the near-duplicate of the first pick") {
    import spark.implicits._
    // ids 1, 2 duplicate each other (rel 0.9, mutual sim 1); id 3 is a
    // bit less relevant (0.8) but only 0.72-similar to pick 1, so at
    // relW 0.7 / divW 0.3 its marginal score 0.344 beats the dup's 0.33
    val vecs = Seq(
      (1L, Array(0.9f, 0.43589f, 0.0f)),
      (2L, Array(0.9f, 0.43589f, 0.0f)),
      (3L, Array(0.8f, 0.0f, 0.6f)),
      (4L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0, 0.0)
    val mmr = Similarity.mmrRerank(vecs, "vec_id", "embedding", q,
        fetch = 4, k = 3)
      .select("rank", "id").as[(Int, Long)].collect().sortBy(_._1).toSeq
    // plain relevance order would be 1, 2, 3; MMR demotes the duplicate
    assert(mmr === Seq((1, 1L), (2, 3L), (3, 2L)))
  }

  test("mmrRerank with divW = 0 reduces to plain relevance top-k") {
    import spark.implicits._
    val vecs = Seq.tabulate(20) { i =>
      (i.toLong, Array.tabulate(4)(j => math.sin(i * 5 + j * 3).toFloat))
    }.toDF("vec_id", "embedding")
    val q = Array.tabulate(4)(j => math.cos(j * 2.0))
    val mmr = Similarity.mmrRerank(vecs, "vec_id", "embedding", q,
        fetch = 20, k = 5, relW = 1.0, divW = 0.0)
      .select("rank", "id").as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    val topk = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        Seq(Tuple1(q)).toDF("q"), k = 5)
      .select("id").as[Long].collect().toSeq
    assert(mmr === topk)
  }

  test("rrfFuse keeps queries independent and respects k") {
    import spark.implicits._
    val l1 = Seq((0L, 1L, 1L), (0L, 2L, 2L), (7L, 5L, 1L)).toDF("qid", "id", "rank")
    val l2 = Seq((7L, 6L, 1L), (7L, 5L, 2L)).toDF("qid", "id", "rank")
    val got = Similarity.rrfFuse(Seq(l1, l2), "qid", "id", "rank", k = 1)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 1L), (7L, 5L)))
  }

  test("rrfFuse fails loudly on zero, negative, and null ranks") {
    import spark.implicits._
    def fused(rows: Seq[(Long, Long, java.lang.Long)]) =
      Similarity.rrfFuse(Seq(rows.toDF("qid", "id", "rank")),
        "qid", "id", "rank", k = 5)
    // a 0-based window leaking in (the classic off-by-one)
    val zero = intercept[Exception](fused(Seq((0L, 1L, 0L))).collect())
    assert(zero.getMessage.contains("rrfFuse") ||
      Option(zero.getCause).exists(_.getMessage.contains("rrfFuse")))
    // a negative rank that would flip the contribution's sign
    intercept[Exception](fused(Seq((0L, 1L, -3L))).collect())
    // a failed-join NULL that would silently vanish from the sum
    intercept[Exception](fused(Seq((0L, 1L, null))).collect())
    // and well-formed ranks still fuse
    assert(fused(Seq((0L, 1L, 1L), (0L, 2L, 2L))).count() === 2L)
  }

  test("pqAdcTopK ranks exact matches first and respects topK") {
    import spark.implicits._
    // 16 docs in 4-d, 4 subspaces of 1 dim, codebooks from ids 0..3;
    // docs cluster tightly around the 4 seed vectors
    val base = Seq(
      Seq(10.0, 0.0, 0.0, 0.0), Seq(0.0, 10.0, 0.0, 0.0),
      Seq(0.0, 0.0, 10.0, 0.0), Seq(0.0, 0.0, 0.0, 10.0))
    val docs = (0L until 16L).map { i =>
      val b = base((i % 4).toInt)
      (i, b.map(_ + (if (i < 4) 0.0 else 0.01 * i)))
    }.toDF("vec_id", "embedding")
    val queries = docs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = Similarity.pqAdcTopK(docs, "vec_id", "embedding",
      queries, "qid", "qv", m = 4, k = 4, topK = 5)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.count(_._1 == 0L) === 5 && rows.count(_._1 == 1L) === 5)
    // a query that IS a seed finds its own code cell at ADC distance 0,
    // and every same-cluster doc shares that code path (rank block 1..4)
    val q0 = rows.filter(_._1 == 0L).sortBy(_._2)
    assert(q0.head._4 === 0.0)
    assert(q0.head._3 % 4 === 0L) // its own cluster's representative
    // distances are non-decreasing in rank
    assert(q0.map(_._4).sliding(2).forall { case Array(a, b) => a <= b })
  }

  test("clusterBalancedSample takes at most perCell per cell, covering all cells") {
    import spark.implicits._
    // two obvious clusters around (1,0) and (0,1), ids dense from 0
    val vecs = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) Seq(1.0, 0.01 * i) else Seq(0.01 * i, 1.0)
      (i, base)
    }.toDF("vec_id", "embedding")
    val s1 = Similarity.clusterBalancedSample(vecs, "vec_id", "embedding",
      k = 2, iterations = 2, perCell = 3)
      .as[(Long, Long)].collect().sorted.toSeq
    val perCell = s1.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perCell.values.forall(_ <= 3))
    assert(perCell.keySet.size === 2) // both cells represented
    // deterministic: a rerun picks the identical sample
    val s2 = Similarity.clusterBalancedSample(vecs, "vec_id", "embedding",
      k = 2, iterations = 2, perCell = 3)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(s1 === s2)
  }

  test("quantizeInt8 rounds to [-127,127], keeps scale, zero-vector safe") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, -0.5, 0.25)),
      (2L, Seq(0.0, 0.0, 0.0)),
      (3L, Seq(-2.0, 1.0, 0.5))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getDouble(3))).toMap
    assert(q((1L, 0)) == ((127, 1.0)))
    assert(q((1L, 1)) == ((-64, 1.0))) // round(-63.5) away from zero
    assert(q((1L, 2)) == ((32, 1.0)))  // round(31.75)
    assert(q((2L, 0)) == ((0, 0.0)))   // zero vector → zeros, scale 0
    assert(q((3L, 0)) == ((-127, 2.0)))
    assert(q.values.forall { case (v, _) => v >= -127 && v <= 127 })
    // dequantization error bounded by scale/254 (half a quant step)
    q.foreach { case ((id, pos), (qv, s)) =>
      if (s > 0) {
        val orig = Map(1L -> Seq(1.0, -0.5, 0.25), 3L -> Seq(-2.0, 1.0, 0.5))(id)(pos)
        assert(math.abs(qv * s / 127.0 - orig) <= s / 254.0 + 1e-12)
      }
    }
  }

  test("simhash60: interpreted and codegen agree; similar text → low hamming") {
    import TextFunctions.tokens
    val df = spark.sql(
      "SELECT 'the quick brown fox jumps over the lazy dog' AS a, " +
      "'the quick brown fox jumps over the lazy cat' AS b, " +
      "'totally unrelated words about database engines' AS c")
    val r = df.select(
      simhash60(tokens(col("a"))).as("ha"),
      simhash60(tokens(col("b"))).as("hb"),
      simhash60(tokens(col("c"))).as("hc")).collect().head
    val (ha, hb, hc) = (r.getLong(0), r.getLong(1), r.getLong(2))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(ha, hb) < ham(ha, hc))
    assert(ha >= 0 && ha < (1L << 60))
  }

  test("cosine + bruteForceTopK rank the query vector's own row first") {
    val emb = spark.sql(
      """SELECT * FROM VALUES
        | (0, array(1.0D, 0.0D, 0.0D)), (1, array(0.9D, 0.1D, 0.0D)),
        | (2, array(0.0D, 1.0D, 0.0D)), (3, array(0.0D, 0.0D, 1.0D))
        | AS t(id, vec)""".stripMargin)
    val q = spark.sql("SELECT array(1.0D, 0.0D, 0.0D) AS q")
    val top = Similarity.bruteForceTopK(emb, "id", "vec", q, 2).collect()
    assert(top.map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(top.head.getDouble(1) == 1.0)
  }

  test("IVF search attains full recall on clustered data with enough probes") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 3 well-separated clusters in 8 dims
    val rows = (0 until 300).map { i =>
      val c = i % 3
      val base = Array.tabulate(8)(d => if (d == c) 10.0 else 0.0)
      (i.toLong, base.map(x => (x + rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("id", "vec")
    val idx = Similarity.ivfIndex(df, "id", "vec", nlist = 3)
    val query = rows.head._2.map(_.toDouble)
    val got = idx.search(query, k = 10, nprobe = 1).collect().map(_.getLong(0)).toSet
    val q = spark.sql("SELECT array(" + query.mkString("D,") + "D) AS q")
    val want = Similarity.bruteForceTopK(df, "id", "vec", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == want) // cluster 0 fully contains the top-10
  }

  test("seeded IVF with full probe equals brute force; partial probe prunes cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      val c = i % 3
      val base = Array.tabulate(8)(d => if (d == c) 10.0 else 0.0)
      (i.toLong, base.map(x => (x + rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("id", "vec")
    val idx = Similarity.ivfIndexSeeded(df, "id", "vec", nlist = 3)
    // every vector lands in exactly one cell, all rows covered
    assert(idx.assigned.count() == 300)
    val query = rows.head._2.map(_.toDouble)
    val q = spark.sql("SELECT array(" + query.mkString("D,") + "D) AS q")
    val want = Similarity.bruteForceTopK(df, "id", "vec", q, 10)
      .collect().map(_.getLong(0)).toSet
    // probing ALL cells is exhaustive → exact brute-force answer
    val full = idx.search(query, k = 10, nprobe = 3).collect().map(_.getLong(0)).toSet
    assert(full == want)
    // seeds 0,1,2 are one per cluster → one probe already suffices
    val one = idx.search(query, k = 10, nprobe = 1).collect().map(_.getLong(0)).toSet
    assert(one == want)
  }

  test("knnProbe: full probe equals brute force per query; batch-split " +
      "invariant; finds an identical indexed vector at cos 1") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 120).map { i =>
      val c = i % 3
      val base = Array.tabulate(8)(d => if (d == c) 10.0 else 0.0)
      (i.toLong, base.map(x => (x + rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("id", "vec")
    val idx = Similarity.ivfIndexSeeded(df, "id", "vec", nlist = 3)
    // external queries: one per cluster + one exact copy of row 0
    val queries = (Seq((1000L, rows(0)._2), (1001L, rows(1)._2),
      (1002L, rows(2)._2)) :+ (1003L, rows(0)._2)).toDF("qid", "qv")
    val got = idx.knnProbe(queries, "qid", "qv", k = 5, nprobe = 3)
    val byQ = got.collect().groupBy(_.getLong(0))
    // full probe == brute force for every query
    for ((qid, qvec) <- Seq((1000L, rows(0)._2), (1001L, rows(1)._2),
        (1002L, rows(2)._2))) {
      val q = spark.sql(
        "SELECT array(" + qvec.map(_.toDouble).mkString("D,") + "D) AS q")
      val want = Similarity.bruteForceTopK(df, "id", "vec", q, 5)
        .collect().map(_.getLong(0)).toSeq
      val probe = byQ(qid).sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
      assert(probe === want, s"query $qid")
    }
    // a query identical to an indexed vector finds it, rank 1, cos 1.0
    val top1003 = byQ(1003L).minBy(_.getLong(1))
    assert(top1003.getLong(2) === 0L && top1003.getDouble(3) === 1.0)
    // batch-split invariance: per-row independence means any split
    // unions to the whole-set answer (the s38 streaming contract)
    def run(d: org.apache.spark.sql.DataFrame) =
      idx.knnProbe(d, "qid", "qv", k = 5, nprobe = 3)
        .collect().map(_.toSeq).toSet
    assert(run(queries.filter(col("qid") % 2 === 0)) ++
      run(queries.filter(col("qid") % 2 === 1)) ===
      got.collect().map(_.toSeq).toSet)
  }

  test("addVectors equals a batch rebuild: incremental index == full index") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 200).map { i =>
      val c = i % 3
      val base = Array.tabulate(8)(d => if (d == c) 10.0 else 0.0)
      (i.toLong, base.map(x => (x + rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("id", "vec")
    val baseSlice = df.filter(col("id") < 8 || col("id") % 3 === 0)
    val addSlice = df.filter(!(col("id") < 8 || col("id") % 3 === 0))
    val incr = Similarity.ivfIndexSeeded(baseSlice, "id", "vec", nlist = 3)
      .addVectors(addSlice, "id", "vec")
    val full = Similarity.ivfIndexSeeded(df, "id", "vec", nlist = 3)
    // identical centroids, identical assignment, identical kNN output
    assert(incr.centroids.map(_.toSeq).toSeq == full.centroids.map(_.toSeq).toSeq)
    def cells(ix: Similarity.IvfIndex) = ix.assigned.select("id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(incr) == cells(full))
    def knn(ix: Similarity.IvfIndex) = ix.knnJoin(k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(knn(incr) == knn(full))
  }

  test("gridDensityClusters: blobs cluster, diagonal cells merge, sparse is noise") {
    import spark.implicits._
    // blob A: 30 pts in cells (0,0)/(1,1) (diagonal touch — must merge);
    // blob B: 25 pts in cell (5,5); blob C: 12 pts in cell (0,-1) —
    // whose packed id is exactly −1, the old noise sentinel (labels are
    // dense-ranked now precisely so this blob stays distinguishable);
    // noise: 3 scattered singles
    val pts =
      (0 until 15).map(i => (i.toLong, 0.05, 0.05)) ++
      (0 until 15).map(i => (100 + i.toLong, 0.15, 0.15)) ++
      (0 until 25).map(i => (200 + i.toLong, 0.55, 0.55)) ++
      (0 until 12).map(i => (300 + i.toLong, 0.05, -0.05)) ++
      Seq((900L, 0.95, 0.35), (901L, -0.35, 0.75), (902L, -0.85, -0.85))
    val df = pts.toDF("id", "x", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.gridDensityClusters(d, "id", col("x"), col("y"),
          scale = 1000.0, cellWidth = 100.0, minPts = 10L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(df)
    // the two diagonal cells share one (dense-ranked) cluster label
    val blobA = (0 until 15).map(_.toLong) ++ (0 until 15).map(100 + _.toLong)
    assert(blobA.map(got).toSet.size === 1)
    val blobB = (0 until 25).map(200 + _.toLong)
    assert(blobB.map(got).toSet.size === 1)
    assert(got(0L) !== got(200L), "separated blobs must not share a label")
    // blob C is ADJACENT to blob A's (0,0) cell (diagonal (0,-1)→(0,0)
    // is the dy=+1 offset) so it merges into A — and its min packed
    // cell id is −1: the label must still be a valid non-negative id
    assert(got(300L) === got(0L), "cell (0,-1) touches (0,0)")
    assert(got(300L) >= 0L, "a dense cluster must never wear the noise sentinel")
    assert(got.values.forall(v => v >= -1L && v < 10L),
      "labels are dense ranks 0..k-1 or the -1 sentinel")
    assert(Seq(900L, 901L, 902L).forall(got(_) == -1L), "sparse cells are noise")
    // deterministic under repartitioning
    assert(run(df.repartition(7)) == got)
  }

  test("IvfIndex.remove equals a rebuild over the survivors (tombstone delete)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      val c = i % 3
      val base = Array.tabulate(8)(d => if (d == c) 10.0 else 0.0)
      (i.toLong, base.map(x => (x + rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("id", "vec")
    val idx = Similarity.ivfIndexSeeded(df, "id", "vec", nlist = 3)
    // delete a third of the corpus, sparing the seed ids (a rebuild via
    // ivfIndexSeeded needs ids 0..nlist-1 present; remove itself has no
    // such constraint — the panel is frozen either way)
    val goneIds = df.select("id").filter(col("id") >= 3 && col("id") % 3 === 0)
    val removed = idx.remove(goneIds, "id")
    val rebuilt = Similarity.ivfIndexSeeded(
      df.join(goneIds, Seq("id"), "left_anti"), "id", "vec", nlist = 3)
    assert(removed.centroids.map(_.toSeq).toSeq ==
      rebuilt.centroids.map(_.toSeq).toSeq)
    def cells(ix: Similarity.IvfIndex) = ix.assigned.select("id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(removed) == cells(rebuilt))
    def knn(ix: Similarity.IvfIndex) = ix.knnJoin(k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gone = goneIds.as[Long].collect().toSet
    val out = knn(removed)
    assert(out == knn(rebuilt))
    // deleted ids neither query nor surface as neighbors
    assert(!out.exists { case (q, _, n) => gone(q) || gone(n) })
  }

  test("rebalance splits only oversized lists, deterministically, preserving coverage") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // two tight clusters: ids 0,1 seed cells 0,1; cluster 0 gets 3× the
    // mass so cell 0 oversizes while cell 1 stays under the cap
    val rows = (0 until 240).map { i =>
      val c = if (i % 2 == 0 || i % 4 == 1) 0 else 1 // 75% cluster 0
      val base = Array.tabulate(8)(d => if (d == c) 10.0 else 0.0)
      (i.toLong, base.map(x => (x + rnd.nextGaussian() * 0.5).toFloat))
    }
    // ids 0/1 must anchor the two clusters for the seeding to separate
    val df = rows.updated(0, (0L, Array.tabulate(8)(d => if (d == 0) 10f else 0f)))
      .updated(1, (1L, Array.tabulate(8)(d => if (d == 1) 10f else 0f)))
      .toDF("id", "vec")
    val idx = Similarity.ivfIndexSeeded(df, "id", "vec", nlist = 2)
    val before = idx.assigned.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cap = before.values.min + 1 // only the big cell exceeds the cap
    val (idx2, audit) = idx.rebalance(maxList = cap)
    val auditRows = audit.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    val bigCell = before.maxBy(_._2)._1
    assert(auditRows.map(_._1).toSeq == Seq(bigCell))
    assert(auditRows.head._3 == 2) // first fresh id = nlist
    // coverage preserved: same ids, each in exactly one cell
    assert(idx2.assigned.select("id").distinct().count() == 240)
    assert(idx2.assigned.count() == 240)
    // the small cell's rows are untouched
    val c2 = idx2.assigned.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val c1 = idx.assigned.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    c1.filter(_._2 != bigCell).foreach { case (id, cell) =>
      assert(c2(id) == cell, s"id $id moved out of an untouched cell")
    }
    // the split actually moved somebody, and centroids grew by one
    assert(c2.values.toSet.contains(2))
    assert(idx2.centroids.length == 3)
    // deterministic: a second run from the same index agrees exactly
    val (idx3, _) = idx.rebalance(maxList = cap)
    val c3 = idx3.assigned.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(c3 == c2)
    // a cap nothing exceeds is the identity with an empty audit
    val (idx4, audit4) = idx.rebalance(maxList = 10000L)
    assert(audit4.count() == 0L)
    assert(idx4.assigned.select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap == c1)
  }

  test("non-dense ids fail fast with the re-key remedy on both seeded entry points") {
    import spark.implicits._
    // 1-based ids: id 0 is missing, so id-seeding cannot find nlist seeds
    val rows = (1 until 50).map(i => (i.toLong, Array.tabulate(4)(d => (i + d).toDouble)))
    val df = rows.toDF("id", "vec")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfIndexSeeded(df, "id", "vec", nlist = 50)
    }
    assert(e1.getMessage.contains("re-key ids densely"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.kmeansFixedPoint(df, "id", "vec", k = 50, iterations = 1)
    }
    assert(e2.getMessage.contains("re-key ids densely"))
    val e3 = intercept[IllegalArgumentException] {
      Similarity.productQuantize(df, "id", "vec", m = 2, k = 50)
    }
    assert(e3.getMessage.contains("re-key ids densely"))
  }

  test("hyperplane buckets collide for near-identical vectors") {
    val emb = spark.sql(
      """SELECT * FROM VALUES
        | (0, array(1.0D, 2.0D, 3.0D, 4.0D)), (1, array(1.01D, 2.0D, 3.0D, 4.0D)),
        | (2, array(-4.0D, 3.0D, -2.0D, 1.0D))
        | AS t(id, vec)""".stripMargin)
    val b = Similarity.hyperplaneBuckets(emb, "id", "vec", bits = 16, dim = 4)
      .select("id", "bucket").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(b(0) == b(1))
    assert(b(0) != b(2))
  }
}

class SkewSpec extends AnyFunSuite with SparkTestBase {

  test("saltedJoin equals the plain join on skewed data") {
    // heavily skewed: 90% of left rows share key 1
    val left = spark.sql(
      "SELECT CASE WHEN id % 10 < 9 THEN 1 ELSE CAST(id AS INT) END AS k, id AS payload " +
      "FROM range(1000)")
    val right = spark.sql(
      "SELECT CAST(id AS INT) AS k, concat('dim_', id) AS dim FROM range(200)")
    val plain = left.join(right, Seq("k"), "inner")
      .select("k", "payload", "dim").collect().map(_.toString).sorted.toSeq
    val salted = graft.ops.Skew.saltedJoin(left, right, "k", 8)
      .select("k", "payload", "dim").collect().map(_.toString).sorted.toSeq
    assert(salted == plain && plain.nonEmpty)
  }

  test("twoPhaseAgg pre-aggregates per salt and combines to exact totals") {
    import org.apache.spark.sql.functions._
    val df = spark.sql(
      "SELECT CAST(id % 3 AS INT) AS k, CAST(id AS DOUBLE) AS v FROM range(300)")
    val result = graft.ops.Skew.twoPhaseAgg(df, "k", 8,
      Seq(sum(col("v")).as("partial_sum"), count(lit(1)).as("partial_n")),
      pre => pre.groupBy("k").agg(
        sum(col("partial_sum")).as("total"), sum(col("partial_n")).as("n")))
    val want = df.groupBy("k").agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
    assert(result.orderBy("k").collect().toSeq == want.orderBy("k").collect().toSeq)
  }

  /** Jobs `f` launches on this thread: tags them with a fresh job group,
    * then runs one sentinel job in the group and waits for its end event,
    * so every earlier job event has reached the listener (one FIFO bus). */
  private def jobsLaunchedBy(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          mine.add(e.jobId); started.incrementAndGet()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (mine.contains(e.jobId)) ended.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count probe")
      try {
        f
        sc.parallelize(Seq(1), 1).count() // the sentinel
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30000000000L
      while (ended.get < started.get || started.get == 0) {
        assert(System.nanoTime < deadline, "listener never saw the sentinel job")
        Thread.sleep(10)
      }
      started.get - 1
    } finally sc.removeSparkListener(listener)
  }

  test("spreadNarrowInput sizes its input from the plan and launches no job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-skew").toString
    // one small parquet file, as a corpus fixture table is
    (0 until 200).map(i => (i.toLong, s"doc $i text ${i % 7}")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents")
    val docs = spark.read.parquet(s"$dir/documents")
    // d44_frequent_ngrams reads the table; d33_allpairs_jaccard a union
    // of it with a perturbed copy; the aggregate needs a shuffle first
    val d44 = docs
    val d33 = docs.unionAll(docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zzz extra suffix")).as("text")))
    val shuffled = docs.groupBy((col("doc_id") % 3).as("doc_id"))
      .agg(max("text").as("text"))
    val want = spark.sparkContext.defaultParallelism
    for ((name, df) <- Seq("d44" -> d44, "d33" -> d33, "shuffled" -> shuffled)) {
      var width = -1
      assert(jobsLaunchedBy { width = Skew.scanWidth(df) } == 0, name)
      assert(jobsLaunchedBy { Skew.spreadNarrowInput(df) } == 0, name)
      if (name != "shuffled") {
        // the width df.rdd reports, so the spread decision is unchanged
        val old = df.rdd.getNumPartitions
        assert(width == old, name)
        assert((width * 2 < want) == (old * 2 < want), name)
      }
    }
    assert(Skew.scanWidth(d44) == 1 && Skew.scanWidth(d33) == 2)
    assert(Skew.scanWidth(shuffled) == spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }
}

class DotProductSpec extends AnyFunSuite with SparkTestBase {

  test("dot_product expression is bit-identical to the lambda fold") {
    val df = spark.sql(
      """SELECT transform(sequence(1, 64), i -> sin(CAST(i * id AS DOUBLE))) AS a,
        |       transform(sequence(1, 64), i -> cos(CAST(i * id AS DOUBLE))) AS b
        |FROM range(50)""".stripMargin)
    val rows = df.select(
      graft.functions.dotProduct(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("fold")).collect()
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("dot_product nulls on length mismatch and null elements") {
    val r = spark.sql(
      "SELECT array(1.0D, 2.0D) AS a, array(1.0D) AS b, array(1.0D, NULL) AS c")
      .select(
        graft.functions.dotProduct(col("a"), col("b")).as("mismatch"),
        graft.functions.dotProduct(col("a"), col("c")).as("withNull"))
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}

class EmbeddingLshSpec extends AnyFunSuite with SparkTestBase {

  test("embeddingLshPairs finds near-identical vectors without a block column") {
    val emb = spark.sql(
      """SELECT * FROM VALUES
        | (0, array(1.0D, 2.0D, 3.0D, 4.0D)),
        | (1, array(1.001D, 2.0D, 3.0D, 4.0D)),
        | (2, array(-4.0D, 3.0D, -2.0D, 1.0D)),
        | (3, array(0.5D, 1.0D, 1.5D, 2.0D))
        | AS t(id, vec)""".stripMargin)
    val pairs = graft.ops.Dedup.embeddingLshPairs(emb, "id", "vec", dim = 4,
      bits = 12, tau = 0.999)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L)) || pairs.contains((1L, 3L))) // colinear → cos 1.0
    assert(!pairs.exists(p => p._1 == 2 || p._2 == 2))
  }
}

class CorpusOpsSpec extends AnyFunSuite with SparkTestBase {
  import org.apache.spark.sql.functions.col

  test("budgetedMix: greedy prefix per source, exact at budget boundaries") {
    import spark.implicits._
    // src a: 4 docs of 3 tokens each (ids 0,2,4,6); budget 7 → docs 0
    // and 2 start under (0, 3), doc 4 starts AT 6 < 7 → in (crossing
    // doc), doc 6 starts at 9 → out. src b: budget 6, docs of 3+3 →
    // doc 1 in (0), doc 3 in (3 < 6), doc 5 starts AT 6 → out (the
    // exact-boundary case). src c: no budget → dropped wholesale.
    val docs = Seq(
      (0L, "a", "one two three"), (2L, "a", "four five six"),
      (4L, "a", "seven eight nine"), (6L, "a", "ten eleven twelve"),
      (1L, "b", "uno dos tres"), (3L, "b", "quatro cinco seis"),
      (5L, "b", "siete ocho nueve"),
      (7L, "c", "never admitted text here")).toDF("doc_id", "source", "text")
    val budgets = Seq(("a", 7L), ("b", 6L)).toDF("source", "budget")
    def run(bucketSize: Long) =
      CorpusOps.budgetedMix(docs, "doc_id", "text", "source", budgets,
          bucketSize)
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(run(1024L) === Seq(0L, 1L, 2L, 3L, 4L))
    // two-phase selection is bucket-size-invariant: per-row buckets,
    // crossing-inside buckets, and one-big-bucket all agree
    assert(run(1L) === run(1024L))
    assert(run(2L) === run(1024L))
    assert(run(4L) === run(1024L))
    // a zero-token doc sitting exactly ON the line is out (its
    // cumulative-before equals the budget): src b reaches 6 after docs
    // 1 and 3, so an empty doc at id 4 starts AT the line
    val withEmpty = docs.unionAll(Seq((4L, "b", "   ")).toDF("doc_id", "source", "text"))
    assert(CorpusOps.budgetedMix(withEmpty, "doc_id", "text", "source",
        budgets, 2L).select("source", "doc_id").as[(String, Long)]
        .collect().sorted.toSeq
      === Seq(("a", 0L), ("a", 2L), ("a", 4L), ("b", 1L), ("b", 3L)))
  }

  test("frequentNgrams keeps doc-frequency >= floor, counts occurrences totally") {
    import spark.implicits._
    val docs = Seq(
      (1L, "click here to subscribe now for updates"),
      (2L, "click here to subscribe now please"),
      (3L, "our site says click here to subscribe"),
      (4L, "click here to subscribe click here to subscribe"),
      (5L, "nothing shared with the others at all")).toDF("doc_id", "text")
    val got = CorpusOps.frequentNgrams(docs, "doc_id", "text", n = 3, minDocFreq = 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the template trigram is on docs 1-4; doc 4 carries it twice, so
    // occurrences exceed doc frequency
    assert(got.keySet === Set("click here to", "here to subscribe"))
    assert(got("click here to") === ((5L, 4L)))
    assert(got("here to subscribe") === ((5L, 4L)))
  }

  test("frequentNgramsAudited caps at widest templates, audit quantifies the loss") {
    import spark.implicits._
    val docs = Seq(
      (1L, "click here to subscribe now for updates"),
      (2L, "click here to subscribe now please"),
      (3L, "our site says click here to subscribe"),
      (4L, "click here to subscribe click here to subscribe"),
      (5L, "subscribe now for our site says nothing")).toDF("doc_id", "text")
    // uncapped: the audit certifies exactness with n_dropped = 0
    val (all, auditAll) = CorpusOps.frequentNgramsAudited(
      docs, "doc_id", "text", n = 3, minDocFreq = 2, maxNgrams = 100)
    val exact = CorpusOps.frequentNgrams(docs, "doc_id", "text", 3, 2)
      .collect().map(_.getString(0)).toSet
    assert(all.collect().map(_.getString(0)).toSet === exact)
    val ra = auditAll.head()
    assert(ra.getLong(0) === exact.size && ra.getLong(1) === 0L)
    assert(ra.isNullAt(2)) // nothing dropped -> no dropped support
    // capped at 2: keeps the two widest (doc-freq 4) templates, audit
    // counts the rest and reports how hot the dropped tail was
    val (top, audit) = CorpusOps.frequentNgramsAudited(
      docs, "doc_id", "text", n = 3, minDocFreq = 2, maxNgrams = 2)
    assert(top.collect().map(_.getString(0)).toSet ===
      Set("click here to", "here to subscribe"))
    val r = audit.head()
    assert(r.getLong(0) === 2L)
    assert(r.getLong(1) === exact.size - 2L)
    assert(!r.isNullAt(2) && r.getLong(2) < 4L) // dropped support below the keep line
  }

  test("removeDuplicateSpans cuts cross-doc runs, chains overlaps, keeps unique text") {
    import spark.implicits._
    // docs 1 and 2 share an 8-token run (> n=4, so overlapping 4-grams
    // chain into ONE span); doc 3 is untouched; docs 4 and 5 are exact
    // duplicates and empty out entirely (all-occurrence semantics)
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      (1L, s"intro one two $shared outro"),
      (2L, s"$shared completely different tail here"),
      (3L, "unique text with no duplicated runs at all"),
      (4L, "twin payload body"),
      (5L, "twin payload body")).toDF("doc_id", "text")
    val got = CorpusOps.removeDuplicateSpans(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got(0) === ((1L, 12L, 4L, "intro one two outro")))
    assert(got(1) === ((2L, 12L, 4L, "completely different tail here")))
    assert(got(2) === ((3L, 8L, 8L, "unique text with no duplicated runs at all")))
    // exact twins: their whole (short) text is one duplicated shingle
    assert(got(3) === ((4L, 3L, 0L, "")))
    assert(got(4) === ((5L, 3L, 0L, "")))
  }

  test("bpeEncode replays merges in rank order; OOV words pass through atomically") {
    import spark.implicits._
    val docs = Seq((1L, "the thin x9 there"), (2L, "other AB")).toDF("doc_id", "text")
    // rank order matters: t+h must run before th+e pairs its output
    val merges = Seq("t" -> "h", "th" -> "e", "e" -> "r")
    val got = CorpusOps.bpeEncode(docs, "doc_id", "text", merges)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    // "the"->the, "thin"->th i n, "x9" atomic, "there"->the r e
    assert(got(0) === ((1L, 4L, 8L, "the | th i n | x9 | the r e")))
    // "other": t+h then th+e cascade inside the word -> o the r;
    // "AB" lowercases in tokens() and encodes as a b (no a+b merge)
    assert(got(1) === ((2L, 2L, 5L, "o the r | a b")))
  }

  test("bpeEncode composes with bpeLearn's learned table") {
    import spark.implicits._
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val learned = CorpusOps.bpeLearn(docs, "text", merges = 5)
      .orderBy("step").as[(Int, String, String, Long)].collect()
      .map(m => m._2 -> m._3).toSeq // (a,a), (a,b), (aa,ab)
    val got = CorpusOps.bpeEncode(docs, "doc_id", "text", learned)
      .as[(Long, Long, Long, String)].collect().head
    // aaab -> aa a b -> aa ab -> aaab (fully merged); ab -> ab
    assert(got === ((1L, 3L, 3L, "aaab | aaab | ab")))
  }

  test("bpeLearn runs the real merge loop: greedy overlap, merged symbols, exhaustion") {
    import spark.implicits._
    // aaab×2 + ab×1: round 1 must count (a,a)=4 (pairs overlap-counted
    // but merged greedily left-to-right: 'a a a b' → 'aa a b', not
    // 'a aa b'), round 2 merges across words, round 3 pairs two MERGED
    // symbols, round 4 finds nothing and stops early despite merges=5
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val got = CorpusOps.bpeLearn(docs, "text", merges = 5)
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    assert(got === Seq((1, "a", "a", 4L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)))
  }

  test("bpeLearn ties break lexicographically and filters the vocab") {
    import spark.implicits._
    val docs = Seq((1L, "cd cd ab ab"), (2L, "x9 !! AB")).toDF("doc_id", "text")
    // (a,b) and (c,d) both count 2 → (a,b) wins the tie; 'x9'/'!!' are
    // filtered out of the vocabulary, 'AB' lowercases into ab's count
    val got = CorpusOps.bpeLearn(docs, "text", merges = 1)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got === Seq((1, "a", "b", 3L)))
  }

  test("hash sampling is deterministic, rate-accurate, and repartition-stable") {
    import spark.implicits._
    val df = (0 until 2000).map(i => (i.toLong, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang")
    val a = CorpusOps.hashSample(df, "id", 10).select("id").collect().map(_.getLong(0)).toSet
    val b = CorpusOps.hashSample(df.repartition(7), "id", 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b) // partitioning cannot change membership
    assert(math.abs(a.size - 200) < 60) // ~10% of 2000
    // different salt → different (still deterministic) sample
    val c = CorpusOps.hashSample(df, "id", 10, salt = "other").select("id")
      .collect().map(_.getLong(0)).toSet
    assert(c != a)
  }

  test("stratified sampling applies per-stratum rates") {
    import spark.implicits._
    val df = (0 until 3000).map(i =>
      (i.toLong, Seq("en", "de", "fr")(i % 3))).toDF("id", "lang")
    val s = CorpusOps.stratifiedSample(df, "id", "lang",
      rates = Map("en" -> 50, "de" -> 10), defaultPercent = 0)
    val byLang = s.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.getOrElse("fr", 0L) == 0L) // default 0% drops the stratum
    assert(byLang("en") > byLang("de")) // 50% vs 10%
    assert(math.abs(byLang("en") - 500L) < 100)
  }

  test("winnow guarantees a shared fingerprint for a shared long run") {
    import spark.implicits._
    // docs 1 and 2 share a 9-token run; with k=5, w=4 any shared run of
    // k+w-1 = 8 tokens must contribute at least one common fingerprint
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    val df = Seq(
      (1L, s"unrelated prefix words here $shared"),
      (2L, s"$shared and then a completely different tail of tokens"),
      (3L, "nothing in common with the others at all whatsoever today"))
      .toDF("doc_id", "text")
    val fps = CorpusOps.winnow(df, "doc_id", "text", k = 5, w = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fps.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    // fingerprints are distinct per doc
    assert(fps.length == fps.distinct.length)
  }

  test("winnow equals a direct reference computation") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq((7L, text)).toDF("doc_id", "text")
    val k = 3; val w = 2
    val toks = text.toLowerCase.split("\\s+").toSeq
    def h64ref(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15), 16)
    val hashes = (0 until math.max(toks.size - (k - 1), 1))
      .map(i => h64ref(toks.slice(i, i + k).mkString(" ")))
    val expected = (0 until math.max(hashes.size - (w - 1), 1))
      .map(i => hashes.slice(i, i + w).min).distinct.toSet
    val got = CorpusOps.winnow(df, "doc_id", "text", k, w).collect()
      .map(_.getLong(1)).toSet
    assert(got == expected)
  }

  test("bm25 matches the log-free formula on a tiny corpus") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "alpha")).toDF("doc_id", "text")
    val k1 = 1.2; val b = 0.75
    val n = 3.0; val avgdl = (3 + 2 + 1).toDouble / 3.0
    def score(tf: Double, df0: Double, dl: Double): Double =
      ((n - df0 + 0.5) / (df0 + 0.5)) *
        (tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl)))
    val got = CorpusOps.bm25(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(got((1L, "alpha")) == score(2, 2, 3)) // tf 2, df 2, dl 3
    assert(got((2L, "gamma")) == score(1, 1, 2))
    assert(got((3L, "alpha")) == score(1, 2, 1))
    // rarer token outscores a commoner one at equal tf/dl
    assert(got((2L, "gamma")) > got((2L, "beta")))
  }

  test("contamination scores copied eval docs 1.0 and held-out docs low") {
    import spark.implicits._
    val train = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different training text about engines and database planners"))
      .toDF("doc_id", "text")
    val eval_ = Seq(
      (101L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (103L, "entirely novel held out evaluation sentence with unique words galore"))
      .toDF("doc_id", "text")
    val c = CorpusOps.contamination(eval_, train, "doc_id", "text", k = 3, w = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(c(101L) == 1.0) // verbatim copy: every fingerprint hits
    assert(c(103L) == 0.0) // disjoint vocabulary: no fingerprint hits
  }

  test("bigramLm estimates conditional bigram probabilities") {
    import spark.implicits._
    val df = Seq((1L, "a b a b"), (2L, "a c"), (3L, "x")).toDF("doc_id", "text")
    val lm = CorpusOps.bigramLm(df, "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(lm(("a", "b")) == ((2L, 3L, 2.0 / 3.0))) // "a b" twice, prefix a 3×
    assert(lm(("a", "c")) == ((1L, 3L, 1.0 / 3.0)))
    assert(lm(("b", "a")) == ((1L, 1L, 1.0)))
    assert(lm.size == 3) // the 1-token doc contributes nothing
    // probabilities per prefix sum to 1
    val byPrefix = lm.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._3).sum)
    byPrefix.foreach { case (_, s) => assert(math.abs(s - 1.0) < 1e-12) }
  }

  test("tfIdf weights match the smoothed formula") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "alpha")).toDF("doc_id", "text")
    val w = CorpusOps.tfIdf(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    def idf(dfq: Int) = math.log(4.0 / (1 + dfq)) + 1.0
    assert(w((1L, "alpha")) == 2 * idf(2)) // tf 2, appears in 2 docs
    assert(w((2L, "gamma")) == 1 * idf(1))
    assert(w((3L, "alpha")) == 1 * idf(2))
    assert(w.size == 5)
  }

  test("vocabulary counts occurrences and doc frequencies without expand") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "alpha")).toDF("doc_id", "text")
    val v = CorpusOps.vocabulary(df, "doc_id", "text", 10).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v("alpha") == (3L, 2L)) // 3 occurrences across 2 docs
    assert(v("beta") == (2L, 2L))
    assert(v("gamma") == (1L, 1L))
  }

  test("tfIdfScaled ranks tokens like smoothed idf and stays integral") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "alpha")).toDF("doc_id", "text")
    val w = CorpusOps.tfIdfScaled(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // scale*(N+1) = 4e6; idfS(df) = 4e6 div (df+1)
    assert(w((1L, "alpha")) == (2L, 2L, 2L * (4000000L / 3))) // tf 2, df 2
    assert(w((2L, "gamma")) == (1L, 1L, 4000000L / 2))
    // rarer token outweighs the commoner one at equal tf
    assert(w((2L, "gamma"))._3 > w((3L, "alpha"))._3)
  }

  test("chunking windows tokens with overlap; final partial chunk kept") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 11).map(i => s"t$i").mkString(" ")), // 11 tokens
      (2L, ""),                                        // empty doc
      (3L, "one two")).toDF("doc_id", "text")
    val out = CorpusOps.chunk(df, "doc_id", "text", size = 5, stride = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getString(3))).toMap
    // doc 1: starts 1,5,9 → [t1..t5], [t5..t9], [t9..t11]
    assert(out((1L, 0)) == (5, "t1 t2 t3 t4 t5"))
    assert(out((1L, 1)) == (5, "t5 t6 t7 t8 t9"))
    assert(out((1L, 2)) == (3, "t9 t10 t11"))
    assert(out((2L, 0)) == (0, "")) // empty doc → one empty chunk
    assert(out((3L, 0)) == (2, "one two"))
    assert(out.size == 5)
  }

  test("groupSample returns exactly n deterministic rows per group") {
    import spark.implicits._
    val df = (0 until 900).map(i => (i.toLong, Seq("en", "de", "fr")(i % 3)))
      .toDF("id", "lang")
    val a = CorpusOps.groupSample(df, "id", "lang", n = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.groupBy(_._2).view.mapValues(_.length).toMap ==
      Map("en" -> 7, "de" -> 7, "fr" -> 7))
    // repartition-stable (no rand(), no partition-order dependence)
    val b = CorpusOps.groupSample(df.repartition(13), "id", "lang", n = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSet == b.toSet)
    // a group smaller than n returns whole group
    val tiny = Seq((1L, "xx"), (2L, "xx")).toDF("id", "lang")
    assert(CorpusOps.groupSample(tiny, "id", "lang", n = 5).count() == 2)
  }

  test("redact scrubs emails, phone numbers, and long digit runs") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail me at jane.doe+x@sub.example.org today"),
      (2L, "call +1 (555) 123-4567 now"),
      (3L, "order 12345678 shipped; year 2024 stays"),
      (4L, "clean text stays untouched")).toDF("id", "text")
    val out = df.select(col("id"),
        graft.functions.TextFunctions.redact(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail me at <EMAIL> today")
    assert(out(2L) == "call <PHONE> now")
    assert(out(3L) == "order <NUM> shipped; year 2024 stays")
    assert(out(4L) == "clean text stays untouched")
  }
}

class QualitySpec extends AnyFunSuite with SparkTestBase {
  import org.apache.spark.sql.functions.{col, lit}

  test("checks fuses all rules into one pass and counts violations") {
    import spark.implicits._
    val df = Seq((1L, 10.0), (2L, -5.0), (3L, 0.0), (4L, 7.0))
      .toDF("k", "v")
      .withColumn("s", org.apache.spark.sql.functions
        .when(col("k") === 3L, lit(null).cast("string")).otherwise(lit("x")))
    val res = Quality.checks(df, Seq(
      "v_positive" -> (col("v") > 0.0),
      "s_not_null" -> col("s").isNotNull,
      "k_under_10" -> (col("k") < 10)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(res("v_positive") == ((2L, 4L, false))) // -5.0 and 0.0 violate
    assert(res("s_not_null") == ((1L, 4L, false))) // the null row
    assert(res("k_under_10") == ((0L, 4L, true)))
    // a predicate evaluating to NULL counts as a violation
    val nullPred = Quality.checks(df, Seq("s_is_x" -> (col("s") === "x")))
      .collect().head
    assert(nullPred.getLong(1) == 1L) // null === "x" is null → violation
  }
}

class MergeSpec extends AnyFunSuite with SparkTestBase {
  import org.apache.spark.sql.functions.col

  test("applyChanges upserts, deletes, inserts, and leaves the rest") {
    import spark.implicits._
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "status", "amount")
    val changes = Seq(
      (2L, "B", 25.0, false),  // update
      (3L, "c", 30.0, true),   // delete
      (9L, "i", 90.0, false))  // insert
      .toDF("k", "status", "amount", "is_delete")
    val next = Merge.applyChanges(snap, changes, "k")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(next.toSeq == Seq((1L, "a", 10.0), (2L, "B", 25.0), (9L, "i", 90.0)))
    // applying an empty changeset is the identity
    val empty = changes.filter(col("k") < 0)
    assert(Merge.applyChanges(snap, empty, "k").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
  }

  test("changeFeed round-trips through applyChanges") {
    import spark.implicits._
    val prev = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "status", "amount")
    val next = Seq((1L, "a", 10.0), (2L, "B", 25.0), (9L, "i", 90.0))
      .toDF("k", "status", "amount")
    val feed = Merge.changeFeed(prev, next, "k")
    val ops = feed.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops == Map(2L -> "U", 3L -> "D", 9L -> "I")) // key 1 unchanged → absent
    // D rows carry the old values, U/I the new
    val vals = feed.collect().map(r => r.getLong(0) -> (r.getString(2), r.getDouble(3))).toMap
    assert(vals(3L) == (("c", 30.0)) && vals(2L) == (("B", 25.0)))
    // inverse law: applying the feed to prev reproduces next exactly
    val applied = Merge.applyChanges(prev,
        feed.withColumn("is_delete", col("op") === "D").drop("op"), "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(applied.toSeq == Seq((1L, "a", 10.0), (2L, "B", 25.0), (9L, "i", 90.0)))
  }

  test("incrementalJoinView equals a full rebuild and REUSES untouched view rows") {
    import spark.implicits._
    // A facts (k, fk, v); B dims (fk, d)
    val a0 = Seq((1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 20L, 3.0), (4L, 30L, 4.0))
      .toDF("k", "fk", "v")
    val b0 = Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("fk", "d")
    // ΔA: update k=1, delete k=3, insert k=9 (fk 20)
    val dA = Seq((1L, 10L, 1.5, false), (3L, 20L, 3.0, true),
      (9L, 20L, 9.0, false)).toDF("k", "fk", "v", "is_delete")
    // ΔB: dim 30 changes — k=4 must re-derive
    val dB = Seq((30L, "Z", false)).toDF("fk", "d", "is_delete")
    val aNew = Merge.applyChanges(a0, dA, "k")
    val bNew = Merge.applyChanges(b0, dB, "fk")
    val view = a0.join(b0, Seq("fk")).select("k", "fk", "v", "d")
    val got = Merge.incrementalJoinView(view, aNew, bNew,
        dA.select("k"), dB.select("fk"), "k", "fk")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val full = aNew.join(bNew, Seq("fk")).select("k", "fk", "v", "d")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(got.toSeq == full.toSeq)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 4L, 9L)) // 3 deleted, 9 inserted
    assert(got.find(_._1 == 4L).get._4 == "Z")         // dim change re-derived
    // reuse proof: poison the UNTOUCHED row (k=2) in the view — the
    // incremental result must carry the poisoned value verbatim,
    // because V ∖ affected rows are reused, never recomputed
    val poisoned = view.withColumn("v",
      when(col("k") === 2L, lit(-99.0)).otherwise(col("v")))
    val reused = Merge.incrementalJoinView(poisoned, aNew, bNew,
        dA.select("k"), dB.select("fk"), "k", "fk")
      .filter(col("k") === 2L).collect()
    assert(reused.length == 1 && reused.head.getDouble(2) == -99.0)
  }

  test("incrementalAgg equals a full recompute under inserts and deletes") {
    import spark.implicits._
    val base = Seq(("p1", 10.0), ("p1", 20.0), ("p2", 5.0), ("p3", 7.0))
      .toDF("grp", "v")
    val state = base.groupBy("grp").agg(
      count(org.apache.spark.sql.functions.lit(1)).as("n"),
      sum(col("v").cast("decimal(18,2)")).as("total"))
    val delta = Seq(("p1", 30.0, 1L), ("p2", 5.0, -1L), ("p4", 2.0, 1L))
      .toDF("grp", "v", "sign") // insert p1, delete p2's only row, new group p4
    val got = Merge.incrementalAgg(state, delta, "grp", "v", "sign")
      .select(col("grp"), col("n"), col("total").cast("double"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("p1", 3L, 60.0), ("p3", 1L, 7.0), ("p4", 1L, 2.0)))
    // p2 reached count 0 and was dropped
  }

  test("scd2 collapses unchanged runs into validity intervals") {
    import spark.implicits._
    val obs = Seq(
      // key 1: a a b a  → 3 versions (a, b, a)
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "a"), (1L, 30L, 3L, "b"), (1L, 40L, 4L, "a"),
      // key 2: single observation → 1 current version
      (2L, 15L, 5L, "x"),
      // key 3: tie on ts broken by seq — b (seq 7) follows a (seq 6)
      (3L, 50L, 6L, "a"), (3L, 50L, 7L, "b"))
      .toDF("k", "ts", "seq", "status")
    val hist = Merge.scd2(obs, "k", "ts", "seq", Seq("status"))
      .select("k", "status", "valid_from", "valid_to", "is_current")
      .orderBy("k", "valid_from", "status").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(hist.toSeq == Seq(
      (1L, "a", 10L, 30L, false),
      (1L, "b", 30L, 40L, false),
      (1L, "a", 40L, -1L, true),
      (2L, "x", 15L, -1L, true),
      (3L, "a", 50L, 50L, false),
      (3L, "b", 50L, -1L, true)))
    // exactly one current row per key
    assert(hist.filter(_._5).map(_._1).toSeq.sorted == Seq(1L, 2L, 3L))
  }

  test("refreshAggAfterDelete equals a full rebuild; fully-deleted groups vanish") {
    import spark.implicits._
    val base = Seq((1L, 5.0, false), (1L, 9.0, true), (1L, 7.0, false),
      (2L, 3.0, false), (2L, 4.0, false),
      (3L, 8.0, true), (3L, 2.0, true)) // group 3 fully deleted
      .toDF("k", "v", "del")
    val view0 = base.groupBy("k").agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
      org.apache.spark.sql.functions.min(col("v")).as("min_v"),
      org.apache.spark.sql.functions.max(col("v")).as("max_v"))
    val got = Merge.refreshAggAfterDelete(view0.drop("del"),
        base.filter(!col("del")).select("k", "v"),
        base.filter(col("del")).select("k"), "k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    // group 1 lost its max (9.0) — new extremum comes from the base;
    // group 2 untouched; group 3 gone entirely
    assert(got == Set((1L, 2L, 5.0, 7.0), (2L, 2L, 3.0, 4.0)))
  }

  test("refreshAggAfterDelete reuses untouched view rows verbatim (poison-proof)") {
    import spark.implicits._
    val base = Seq((1L, 5.0), (2L, 3.0), (2L, 4.0)).toDF("k", "v")
    // poison group 2's view row: if the refresh recomputed it, the
    // poison would be healed — it must instead propagate
    val poisoned = Seq((1L, 1L, 5.0, 5.0), (2L, 99L, -1.0, -1.0))
      .toDF("k", "n", "min_v", "max_v")
    val got = Merge.refreshAggAfterDelete(poisoned,
        base.filter(col("k") === 1L && col("v") =!= 5.0).unionAll(
          base.filter(col("k") =!= 1L)),
        Seq(Tuple1(1L)).toDF("k"), "k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(got == Set((2L, 99L, -1.0, -1.0))) // group 1 vanished, poison kept
  }
}

class RangeJoinSpec extends AnyFunSuite with SparkTestBase {
  import org.apache.spark.sql.functions.col

  test("bucketed point-in-interval join equals the naive range join") {
    import spark.implicits._
    val points = (0 until 500).map(i => (i % 7L, i.toLong, i * 13L % 1000))
      .toDF("k", "pid", "ts")
    val ivs = (0 until 60).map { i =>
      val s = i * 17L % 900; (i % 7L, 1000L + i, s, s + 30 + i % 50)
    }.toDF("k", "iid", "lo", "hi")
    val fast = RangeJoin.pointInInterval(points, "ts", ivs, "lo", "hi", "k", 64L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(ivs, Seq("k"))
      .filter(col("ts") >= col("lo") && col("ts") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == naive)
    assert(fast.nonEmpty)
    // no duplicates: each (point, interval) match appears exactly once
    val rows = RangeJoin.pointInInterval(points, "ts", ivs, "lo", "hi", "k", 64L).count()
    assert(rows == fast.size)
  }

  test("bucketed interval-overlap join equals the naive theta join") {
    import spark.implicits._
    // long intervals spanning many buckets exercise the claim-bucket dedup
    val l = (0 until 80).map { i =>
      val s = i * 23L % 700; (i % 5L, i.toLong, s, s + 40 + i % 300)
    }.toDF("k", "lid", "ls", "le")
    val r = (0 until 90).map { i =>
      val s = i * 31L % 800; (i % 5L, 1000L + i, s, s + 25 + i % 200)
    }.toDF("k", "rid", "rs", "re")
    val fast = RangeJoin.intervalOverlap(l, "ls", "le", r, "rs", "re", "k", 64L)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val naive = l.join(r, Seq("k"))
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(fast == naive)
    assert(fast.nonEmpty)
    // claim-bucket dedup: each overlapping pair appears exactly once
    val rows = RangeJoin.intervalOverlap(l, "ls", "le", r, "rs", "re", "k", 64L).count()
    assert(rows == fast.size)
  }
}

class LayoutSpec extends AnyFunSuite with SparkTestBase {
  import org.apache.spark.sql.functions.col

  test("zorderValue interleaves bits exactly") {
    import spark.implicits._
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (1023L, 1023L))
      .toDF("x", "y")
    val got = df.select(Layout.zorderValue(col("x"), col("y"), 10).as("z"))
      .collect().map(_.getLong(0)).toSeq
    val want = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (1023L, 1023L))
      .map { case (x, y) => ref(x, y, 10) }
    assert(got == want)
    assert(ref(1023, 1023, 10) == (1L << 20) - 1) // all 20 low bits set
  }

  test("compact rewrites a fragmented table into few range-sorted files, content-equal") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val rows = (0L until 5000L).map(i => (i, s"p$i"))
    rows.toDF("id", "payload").repartition(37).write.parquet(s"$tmp/frag")
    val fragFiles = new java.io.File(s"$tmp/frag").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(fragFiles == 37)
    val n = Layout.compact(spark, s"$tmp/frag", s"$tmp/out", "id", 2000L)
    assert(n == 3) // ceil(5000 / 2000)
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.as[(Long, String)].collect().sortBy(_._1).toSeq == rows)
    // each compacted file covers a contiguous id range (footer stats
    // stay selective): per-file min/max ranges must not overlap
    val ranges = back.select(input_file_name().as("f"), col("id"))
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array(a, b) => a._2 < b._1
      case _ => true
    })
  }

  test("extendManifest equals a rebuilt manifest and reuses old rows verbatim") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    (0L until 3000L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(3, col("id")).write.parquet(s"$tmp/t")
    val m1 = Layout.statsManifest(spark, s"$tmp/t", Seq("id"))
      .localCheckpoint(eager = true)
    // no new files → the manifest comes back unchanged (same rows)
    val same = Layout.extendManifest(spark, s"$tmp/t", m1, Seq("id"))
    assert(same.collect().map(_.toSeq).toSet === m1.collect().map(_.toSeq).toSet)
    // epoch 2 appends; the extension must equal a full rebuild...
    (3000L until 5000L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(2, col("id")).write.mode("append").parquet(s"$tmp/t")
    val extended = Layout.extendManifest(spark, s"$tmp/t", m1, Seq("id"))
    val rebuilt = Layout.statsManifest(spark, s"$tmp/t", Seq("id"))
    assert(extended.collect().map(_.toSeq).toSet ===
      rebuilt.collect().map(_.toSeq).toSet)
    // ...and reuse the epoch-1 rows verbatim (no re-scan of old files)
    assert(m1.collect().map(_.toSeq).toSet.subsetOf(
      extended.collect().map(_.toSeq).toSet))
    assert(extended.count() === 5L)
  }

  test("compactSmall re-encodes only fragments; healthy files copy byte-identically") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-csmall").toString
    (0L until 4000L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.parquet(s"$tmp/t")
    (4000L until 5000L).map(i => (i, s"p$i")).toDF("id", "payload")
      .repartition(10).write.mode("append").parquet(s"$tmp/t")
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val healthyBefore = parquetFiles(s"$tmp/t").filter(_.length() > 4000)
    val n = Layout.compactSmall(spark, s"$tmp/t", s"$tmp/out", "id",
      targetRowsPerFile = 1000L, minRowsPerFile = 500L)
    assert(n === 3) // 2 healthy kept + ceil(1000/1000) rewritten
    // content equal to the union
    val back = spark.read.parquet(s"$tmp/out").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(back === (0L until 5000L).map(i => (i, s"p$i")))
    // the two healthy files arrive byte-for-byte (no re-encode)
    def md5(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      new java.math.BigInteger(1,
        d.digest(java.nio.file.Files.readAllBytes(f.toPath))).toString(16)
    }
    val outByName = parquetFiles(s"$tmp/out").map(f => f.getName -> f).toMap
    assert(healthyBefore.length === 2)
    healthyBefore.foreach { f =>
      assert(outByName.contains(f.getName), s"${f.getName} not copied")
      assert(md5(outByName(f.getName)) === md5(f), s"${f.getName} re-encoded")
    }
  }

  test("mergeIntoLayout rewrites only key-overlapping files, copies the rest verbatim") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-mil").toString
    (0L until 4000L).map(i => (i, s"v$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.parquet(s"$tmp/t")
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def md5(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      new java.math.BigInteger(1,
        d.digest(java.nio.file.Files.readAllBytes(f.toPath))).toString(16)
    }
    val before = parquetFiles(s"$tmp/t").map(f => f.getName -> md5(f)).toMap
    // changes touch only low keys (< 500) + one out-of-range insert
    val changes = Seq(
      (10L, "upd10", false), (490L, "upd490", false),
      (200L, "gone", true), (99999L, "new", false))
      .toDF("id", "payload", "is_delete")
    Layout.mergeIntoLayout(spark, s"$tmp/t", s"$tmp/out", changes, "id")
    // content equals full-table applyChanges
    val got = spark.read.parquet(s"$tmp/out").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val want = ((0L until 4000L).filter(_ != 200L).map(i =>
      (i, if (i == 10L) "upd10" else if (i == 490L) "upd490" else s"v$i"))
      :+ (99999L, "new")).sortBy(_._1)
    assert(got === want)
    // untouched files (ranges above 500) arrive byte-for-byte
    val outByName = parquetFiles(s"$tmp/out").map(f => f.getName -> f).toMap
    val copied = before.keys.filter(outByName.contains)
    assert(copied.nonEmpty && copied.size < before.size,
      s"expected a strict subset copied, got ${copied.size}/${before.size}")
    copied.foreach(n => assert(md5(outByName(n)) === before(n), s"$n re-encoded"))
  }

  test("zorderLayout clusters both dimensions into few files") {
    import spark.implicits._
    val df = (0 until 4096).map(i => (i.toLong % 64, i.toLong / 64))
      .toDF("x", "y")
    val laid = Layout.zorderLayout(df, "x", "y", bits = 6, numFiles = 8)
    assert(laid.rdd.getNumPartitions == 8)
    // each partition must cover a BOUNDED sub-square of both dims: the
    // per-partition x-range and y-range are far below the full extent
    val spans = laid.rdd.mapPartitions { it =>
      val rows = it.toSeq
      if (rows.isEmpty) Iterator.empty
      else {
        val xs = rows.map(_.getLong(0)); val ys = rows.map(_.getLong(1))
        Iterator((xs.max - xs.min, ys.max - ys.min))
      }
    }.collect()
    // a 1-D sort layout would leave one dimension at the full 63 span in
    // EVERY partition; z-ranges keep at least one dimension sub-quadrant
    // everywhere, and only range-boundary-straddling partitions (the
    // sampled boundaries shift with RDD-id history, so which partitions
    // straddle is not fixed) may open up in the other dimension
    assert(spans.forall { case (xr, yr) => math.min(xr, yr) <= 32 })
    assert(spans.count { case (xr, yr) => math.max(xr, yr) > 40 } <= 2)
  }
}

class ProfileSpec extends AnyFunSuite with SparkTestBase {

  test("exact profile reports nulls, distincts, typed extremes in one pass") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        | (1, 'a', 1.5D, TIMESTAMP '2026-01-01 00:00:00'),
        | (2, 'b', -2.5D, TIMESTAMP '2026-06-01 12:00:00'),
        | (3, NULL, 1.5D, NULL)
        | AS t(id, s, d, ts)""".stripMargin)
    val p = Profile.profile(df).collect().map(r => r.getString(0) -> r).toMap
    assert(p("s").getLong(2) == 1 && p("s").getLong(3) == 2) // 1 null, 2 distinct
    assert(p("s").getString(6) == "a" && p("s").getString(7) == "b")
    assert(p("d").getDouble(4) == -2.5 && p("d").getDouble(5) == 1.5)
    assert(p("ts").getDouble(4) == 1767225600.0) // 2026-01-01 UTC epoch
    assert(p("id").getLong(3) == 3)
  }

  test("approx mode estimates distincts without the expand plan") {
    val df = spark.range(0, 10000).toDF("id")
      .selectExpr("id", "CAST(id % 100 AS STRING) AS bucket")
    val p = Profile.profile(df, exact = false).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(math.abs(p("bucket") - 100) <= 5) // HLL within tolerance
    assert(math.abs(p("id") - 10000) <= 500)
  }

  test("histogramQuantiles lands within one bin width of the exact percentile") {
    import spark.implicits._
    // two groups with different uniform value ranges
    val rows = (0 until 8000).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val v = if (g == "a") (i % 1000).toDouble else (i % 4000).toDouble
      (g, v)
    }
    val df = rows.toDF("grp", "v")
    val got = Profile.histogramQuantiles(df, "grp", "v",
      lo = BigDecimal(0), hi = BigDecimal(4000), nbins = 40,
      qsPermille = Seq(500, 950))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val binWidth = 100.0
    rows.groupBy(_._1).foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      Seq(500, 950).foreach { q =>
        val exact = sorted((math.ceil(q / 1000.0 * sorted.size) - 1).toInt.max(0))
        val est = got((g, q))
        assert(math.abs(est - exact) <= binWidth,
          s"group $g q$q: est $est vs exact $exact")
      }
    }
  }
}

class BucketingSpec extends AnyFunSuite with SparkTestBase {

  test("same-bucketed tables join without any shuffle exchange") {
    val a = spark.sql("SELECT CAST(id AS INT) AS k, id * 2 AS va FROM range(1000)")
    val b = spark.sql("SELECT CAST(id AS INT) AS k, id * 3 AS vb FROM range(500)")
    Bucketing.writeBucketed(a, "graft_buck_a", "k", 4)
    Bucketing.writeBucketed(b, "graft_buck_b", "k", 4)
    // disable auto-broadcast so a shuffle would otherwise be required
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.cololocatedJoin(spark, "graft_buck_a", "graft_buck_b", "k")
      assert(Bucketing.isExchangeFree(joined))
      assert(joined.count() == 500)
      // sanity: the same join over plain (unbucketed) data DOES shuffle
      assert(!Bucketing.isExchangeFree(a.join(b, Seq("k"))))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_buck_a")
      spark.sql("DROP TABLE IF EXISTS graft_buck_b")
    }
  }
}

class MultimodalSpec extends AnyFunSuite with SparkTestBase {
  import Multimodal._

  test("synthetic media → batched feature extraction is deterministic and total") {
    val ids = spark.range(0, 257).toDF("id") // exercises >1 batch per partition
    val media = syntheticMedia(ids, "id")(spark)
    val rows = extractFeatures(media).collect()
    assert(rows.length == 257)
    val again = extractFeatures(media).collect()
      .map(f => f.media_id -> f.mean_val).toMap
    assert(rows.forall(f => again(f.media_id) == f.mean_val))
  }

  test("patchify: ceil grid with ragged edges, patch means match the formula") {
    // 10×5 png, patch 4 → grid 3×2: widths 4,4,2; heights 4,1
    val rec = MediaRecord(3L, MediaGen.image("png", 10, 5, 3L),
      MediaMeta("png", 10, 5, 0L))
    val patches = MediaCodec.patchify(rec, 4)
    assert(patches.map(p => (p.py, p.px)).toSet ===
      (for (py <- 0 to 1; px <- 0 to 2) yield (py, px)).toSet)
    // pixel counts: full 4×4, edge columns 2 wide, edge rows 1 tall
    val nByPos = patches.map(p => (p.py, p.px) -> p.n_px).toMap
    assert(nByPos((0, 0)) === 16 && nByPos((0, 2)) === 8 &&
      nByPos((1, 0)) === 4 && nByPos((1, 2)) === 2)
    // total coverage is exactly the image, each pixel once
    assert(patches.map(_.n_px).sum === 50)
    // hand-check one patch mean against grayAt
    val want = (for (y <- 0 to 3; x <- 4 to 7)
      yield MediaGen.grayAt(3L, x, y)).sum / 16.0
    assert(patches.find(p => p.py == 0 && p.px == 1).get.mean_val === want)
  }

  test("dhash on a non-image record fails with the contract, not an NPE") {
    val wav = MediaRecord(7L, MediaGen.wavChirp(7L, 100),
      MediaMeta("wav", 0, 0, 100L * 1000 / MediaGen.sampleRate))
    val e = intercept[IllegalArgumentException] { MediaCodec.dhash(wav) }
    assert(e.getMessage.contains("media_id 7"))
    assert(e.getMessage.contains("wav"))
  }

  test("dhashWithFingerprint: fp equals Spark md5, dhash equals dhashFeatures") {
    import org.apache.spark.sql.functions.{col, md5}
    val ids = spark.range(0, 30).selectExpr("id * 3 AS id") // png branch
    val media = syntheticMedia(ids, "id")(spark)
    val got = dhashWithFingerprint(media).collect()
      .map(h => h.media_id -> ((h.fp, h.dhash))).toMap
    val wantFp = media.toDF().select(col("media_id"), md5(col("content")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val wantDh = dhashFeatures(media).collect()
      .map(h => h.media_id -> h.dhash).toMap
    assert(got.size == 30)
    assert(got.forall { case (id, (fp, dh)) =>
      fp == wantFp(id) && dh == wantDh(id) })
  }

  test("syntheticMediaFrom: same gen → byte-identical payloads under own ids") {
    import spark.implicits._
    val df = Seq((10L, 6L), (20L, 6L), (30L, 9L)).toDF("id", "gen")
    val m = syntheticMediaFrom(df, "id", "gen")(spark).collect()
      .map(r => r.media_id -> r.content).toMap
    assert(java.util.Arrays.equals(m(10L), m(20L)))
    assert(!java.util.Arrays.equals(m(10L), m(30L)))
  }

  test("real codecs: png mean matches pixel formula, jpeg dims exact, wav RIFF parse") {
    val media = syntheticMedia(spark.range(0, 12).toDF("id"), "id")(spark)
    val f = extractFeatures(media).collect().map(x => x.media_id -> x).toMap
    // png id 0: 1×1 gray image, sole pixel = (0*7 + 0*13 + 0*31) % 256 = 0
    assert(f(0L).format == "png" && f(0L).width == 1 && f(0L).height == 1)
    assert(f(0L).mean_val == 0.0)
    // png id 3: 4×4, mean gray equals the generator formula exactly (lossless)
    val want3 = (for (x <- 0 until 4; y <- 0 until 4)
      yield (x * 7 + y * 13 + 3 * 31) % 256).sum.toDouble / 16
    assert(f(3L).mean_val == want3)
    // jpeg id 1: dimensions survive the lossy round-trip
    assert(f(1L).format == "jpeg" && f(1L).width == 2 && f(1L).height == 2)
    // wav id 2: 10 samples → duration, byte count, and mean from the RIFF parse
    val n = 10
    assert(f(2L).n_bytes == 44 + 2 * n)
    assert(f(2L).duration_ms == n * 1000 / 8000)
    val wantMean = (0 until n).map(i => ((2 * 31 + i * 17) % 65536) - 32768)
      .sum.toDouble / n
    assert(f(2L).mean_val == wantMean)
  }

  test("resample: nearest-neighbor resize and audio frame-sampling are exact") {
    val media = syntheticMedia(spark.range(0, 12).toDF("id"), "id")(spark)
    val f = resampleFeatures(media, 8, 8, 4).collect().map(x => x.media_id -> x).toMap
    // png id 0 is 1×1: every resized pixel samples (0,0) = gray 0
    assert(f(0L).width == 8 && f(0L).height == 8 && f(0L).mean_val == 0.0)
    // png id 3 is 4×4: resized mean equals the sampled-formula mean
    val want3 = (for (x <- 0 until 8; y <- 0 until 8)
      yield ((x * 4 / 8) * 7 + (y * 4 / 8) * 13 + 3 * 31) % 256).sum.toDouble / 64
    assert(f(3L).mean_val == want3)
    // wav id 2 has 10 samples; stride 4 keeps indices 0, 4, 8
    val want2 = Seq(0, 4, 8).map(i => ((2 * 31 + i * 17) % 65536) - 32768)
      .sum.toDouble / 3
    assert(f(2L).mean_val == want2 && f(2L).duration_ms == 10 * 1000 / 8000)
  }

  test("dhash matches the formula on a hand-computed image and separates dissimilar ones") {
    val pngs = syntheticMedia(
      spark.range(0, 31).toDF("id").filter("id % 3 = 0"), "id")(spark)
    val h = dhashFeatures(pngs).collect().map(x => x.media_id -> x).toMap
    // id 3: 4×4 image; recompute the 9×8-grid dHash from the pixel formula
    def px(id: Long, w: Int, h0: Int, gx: Int, gy: Int): Int =
      (((gx * w / 9) * 7 + (gy * h0 / 8) * 13 + id * 31) % 256).toInt
    var want = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (px(3, 4, 4, x, y) > px(3, 4, 4, x + 1, y)) want |= 1L << (y * 8 + x)
    assert(h(3L).dhash === want)
    // identical pixel formulas with different ids produce different hashes
    // somewhere in the set (a constant hash would be a broken comparator)
    assert(h.values.map(_.dhash).toSet.size > 1)
    // re-hashing is deterministic
    val again = dhashFeatures(pngs).collect().map(x => x.media_id -> x.dhash).toMap
    assert(h.forall { case (id, x) => again(id) == x.dhash })
  }

  test("audioHash: hand-computed frame means, twin identity, diversity") {
    import graft.ops.Multimodal._
    def rec(id: Long, gen: (Long, Int) => Array[Byte]): MediaRecord = {
      val n = (id % 800 + 8).toInt
      MediaRecord(id, gen(id, n), MediaMeta("wav", 0, 0,
        n.toLong * 1000 / MediaGen.sampleRate))
    }
    // hand-recompute the 60-bit delta-sign hash for one chirp stream
    val id = 11L
    val n = (id % 800 + 8).toInt
    def mean(f: Int): Long = {
      val s = f * n / 61; val e = (f + 1) * n / 61
      if (e <= s) 0L
      else (s until e).map(i => MediaGen.chirpAt(id, i).toLong).sum / (e - s)
    }
    var want = 0L
    for (f <- 0 until 60) if (mean(f) > mean(f + 1)) want |= 1L << f
    assert(MediaCodec.audioHash(rec(id, MediaGen.wavChirp)) === want)
    // the lcm-aligned twin offset decodes to identical PCM → same hash
    assert(MediaCodec.audioHash(rec(id + 1638400L, MediaGen.wavChirp)) === want)
    // different ids hash differently somewhere (not a constant comparator)
    val hs = Seq(2L, 5L, 8L, 11L, 14L)
      .map(i => MediaCodec.audioHash(rec(i, MediaGen.wavChirp))).toSet
    assert(hs.size > 1)
  }

  test("dhash is robust to pixel-level noise but not to different content") {
    import java.awt.image.BufferedImage
    def img(f: (Int, Int) => Int): Array[Byte] = {
      val b = new BufferedImage(32, 32, BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 32; x <- 0 until 32) b.getRaster.setSample(x, y, 0, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(b, "png", bos)
      bos.toByteArray
    }
    def rec(id: Long, bytes: Array[Byte]) =
      MediaRecord(id, bytes, MediaMeta("png", 32, 32, 0L))
    val base = (x: Int, y: Int) => (x * 8 + y) % 256
    val noisy = (x: Int, y: Int) => ((x * 8 + y) % 256 + (if (x == 5 && y == 5) 1 else 0)) % 256
    val other = (x: Int, y: Int) => (255 - x * 8 - y) % 256 max 0
    val Seq(hb, hn, ho) = Seq(base, noisy, other).zipWithIndex.map { case (f, i) =>
      MediaCodec.dhash(rec(i, img(f)))
    }
    assert(java.lang.Long.bitCount(hb ^ hn) <= 2) // near-dup: tiny hamming
    assert(java.lang.Long.bitCount(hb ^ ho) > 10) // different content: far
  }

  test("metadata struct survives the pipeline with typed fields") {
    val media = syntheticMedia(spark.range(0, 9).toDF("id"), "id")(spark)
    val m = media.collect().map(r => r.media_id -> r.meta).toMap
    assert(m(0L).format == "png" && m(1L).format == "jpeg" && m(2L).format == "wav")
    assert(m(6L).width == 7 && m(6L).height == 7) // png: dims from id formula
    assert(m(5L).width == 0 && m(5L).durationMs == (5 % 800 + 8) * 1000 / 8000) // wav
  }

  test("header probe: dims/duration match the full decode, without decoding") {
    val media = syntheticMedia(spark.range(0, 30).toDF("id"), "id")(spark)
    val probed = headerFeatures(media).collect().map(h => h.media_id -> h).toMap
    val decoded = extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(probed.size == 30)
    probed.foreach { case (id, h) =>
      val f = decoded(id)
      assert(h.format == f.format, s"id $id")
      assert(h.width == f.width && h.height == f.height, s"id $id")
      assert(h.duration_ms == f.duration_ms, s"id $id")
    }
  }

  test("header probe sniffs format from magic bytes, ignoring claimed metadata") {
    val png = MediaGen.image("png", 5, 7, 3L)
    val lying = MediaRecord(9L, png, MediaMeta("wav", 0, 0, 0L))
    val h = MediaCodec.headerProbe(lying)
    assert(h.format == "png" && h.width == 5 && h.height == 7)
    val junk = MediaCodec.headerProbe(
      MediaRecord(10L, Array[Byte](1, 2, 3, 4, 5), MediaMeta("png", 9, 9, 0L)))
    assert(junk.format == "unknown" && junk.width == 0)
  }

  test("header probe succeeds on payloads truncated to their headers") {
    // png: 24 bytes (signature + IHDR dims) suffice
    val png = MediaGen.image("png", 13, 6, 4L)
    val hp = MediaCodec.headerProbe(
      MediaRecord(1L, png.take(32), MediaMeta("png", 13, 6, 0L)))
    assert(hp.format == "png" && hp.width == 13 && hp.height == 6)
    // wav: the 44-byte RIFF/fmt/data header carries the declared data
    // length, so duration probes correctly with ZERO sample bytes present
    val n = 500
    val wav = MediaGen.wav(2L, n)
    val hw = MediaCodec.headerProbe(
      MediaRecord(2L, wav.take(44), MediaMeta("wav", 0, 0, 0L)))
    assert(hw.format == "wav" && hw.duration_ms == n.toLong * 1000 / 8000)
    // the strict decoder refuses the same truncated payload — the
    // lenient/strict split is the probe's contract, not an accident
    intercept[IllegalArgumentException] {
      MediaCodec.blockMeans(
        MediaRecord(2L, wav.take(44), MediaMeta("wav", 0, 0, 0L)), 64)
    }
  }

  test("PNG tEXt: spliced chunks round-trip, pixels unchanged, truncation safe") {
    val entries = Seq("source" -> "crawl-3", "caption" -> "a tiny test image")
    val bytes = MediaGen.pngWithText(16, 12, 42L, entries)
    val rec = MediaRecord(42L, bytes, MediaMeta("png", 16, 12, 0L))
    // entries come back in chunk order
    assert(MediaCodec.textChunks(rec).map(t => t.key -> t.value) === entries)
    // a standard decoder ignores the ancillary chunks: pixels identical
    val plain = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(MediaGen.image("png", 16, 12, 42L)))
    val withText = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    for (y <- 0 until 12; x <- 0 until 16)
      assert(withText.getRaster.getSample(x, y, 0) ===
        plain.getRaster.getSample(x, y, 0))
    // header probe still reads IHDR (chunks spliced AFTER it)
    assert(MediaCodec.headerProbe(rec).width === 16)
    // truncation mid-chunk: entries before the cut survive, no throw
    val cut = MediaRecord(42L, bytes.take(40), MediaMeta("png", 16, 12, 0L))
    assert(MediaCodec.textChunks(cut).isEmpty)
    // non-PNG payloads yield no entries
    val wav = MediaRecord(7L, MediaGen.wav(7L, 64), MediaMeta("wav", 0, 0, 8L))
    assert(MediaCodec.textChunks(wav).isEmpty)
  }

  test("triage: ok / header_only / unparseable verdicts, no executor exceptions") {
    import spark.implicits._
    val base = syntheticMedia(spark.range(0, 12).toDF("id"), "id")(spark)
    val corrupted = base.map { r =>
      if (r.media_id == 3L) r.copy(content = r.content.take(32))     // png cut
      else if (r.media_id == 5L) r.copy(content = r.content.take(44)) // wav cut
      else if (r.media_id == 7L) r.copy(content = Array.fill(16)(0x00.toByte))
      else r
    }
    val got = triageFeatures(corrupted).collect().map(t => t.media_id -> t).toMap
    assert(got(3L).status == "header_only") // header facts still probe
    assert(got(3L).format == "png" && got(3L).width == 4 && got(3L).height == 4)
    assert(got(5L).status == "header_only" &&
      got(5L).duration_ms == (5 % 800 + 8) * 1000 / 8000)
    assert(got(7L).status == "unparseable" && got(7L).format == "unknown")
    // untouched records are fully decodable
    assert(Seq(0L, 1L, 2L, 4L, 6L, 8L).forall(id => got(id).status == "ok"))
  }

  test("fused triage+hash equals the separate triage and hash passes") {
    import spark.implicits._
    val base = syntheticMedia(spark.range(0, 12).toDF("id"), "id")(spark)
    val corrupted = base.map { r =>
      if (r.media_id == 3L) r.copy(content = r.content.take(32))
      else if (r.media_id == 5L) r.copy(content = r.content.take(44))
      else if (r.media_id == 7L) r.copy(content = Array.fill(16)(0x00.toByte))
      else r
    }
    val fused = triageWithImageHash(corrupted).collect()
      .map(t => t.media_id -> t).toMap
    // verdict semantics identical to triageFeatures on the same fixture
    val tri = triageFeatures(corrupted).collect()
      .map(t => t.media_id -> t).toMap
    for (id <- 0L until 12L) {
      assert(fused(id).status === tri(id).status, s"status of $id")
      assert(fused(id).format === tri(id).format, s"format of $id")
      assert(fused(id).width === tri(id).width &&
        fused(id).height === tri(id).height, s"dims of $id")
    }
    // dhash/fp equal the dedicated hash pass on the ok images
    val okImages = corrupted.filter(r =>
      r.meta.format == "png" || r.meta.format == "jpeg")
      .filter(r => fused(r.media_id).status == "ok")
    val hashed = dhashWithFingerprint(okImages).collect()
      .map(h => h.media_id -> h).toMap
    assert(hashed.nonEmpty)
    for ((id, h) <- hashed) {
      assert(fused(id).dhash === h.dhash, s"dhash of $id")
      assert(fused(id).fp === h.fp, s"fp of $id")
    }
    // fingerprints exist even for quarantined payloads; non-ok dhash is 0
    assert(fused(7L).fp.length === 32 && fused(7L).dhash === 0L)
    assert(fused(3L).dhash === 0L)
  }

  test("envelope segmentation: islands of qualifying blocks, formula-checked") {
    val thr = -20000.0 // the m14 gate's threshold: inside the envelope range
    val media = syntheticMedia(
      spark.range(400, 500).toDF("id").filter("id % 3 = 2"), "id")(spark)
    val got = envelopeSegments(media, blockSize = 64, threshold = thr)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .groupBy(_._1)
    // recompute expected segments from the PCM formula for every id
    var total = 0
    var multi = 0
    for (wid <- (400L until 500L).filter(_ % 3 == 2)) {
      val nn = (wid % 800 + 8).toInt
      val means = (0 until nn).grouped(64).map { blk =>
        blk.map(i => ((wid * 31 + i * 17) % 65536) - 32768).sum.toDouble /
          blk.size
      }.toSeq
      val voiced = means.zipWithIndex.filter(_._1 >= thr).map(_._2)
      val segs = voiced.foldLeft(List.empty[(Int, Int, Long)]) {
        case ((s, e, c) :: rest, b) if b == e + 1 => (s, b, c + 1) :: rest
        case (acc, b) => (b, b, 1L) :: acc
      }.reverse
      val gotSegs = got.getOrElse(wid, Array.empty).sortBy(_._2)
        .map(t => (t._2, t._3, t._4)).toList
      assert(gotSegs == segs, s"media $wid")
      total += segs.size
      multi += segs.count(_._3 > 1)
    }
    // the fixture must actually exercise islands: nonempty, and some
    // runs longer than one block (a degenerate all-or-nothing
    // threshold would vacuously pass the equality above)
    assert(total > 0 && multi > 0)
  }

  test("envelope segmentation: PCM wraparound splits a media into multiple islands") {
    // ids ≥ ~1991 wrap the 16-bit sawtooth mid-stream, so at −30000 the
    // envelope dips below threshold for the wrap blocks and ONE media
    // yields ≥ 2 disjoint segments — the gaps side of gaps-and-islands
    val thr = -30000.0
    val media = syntheticMedia(
      spark.range(1991, 2090).toDF("id").filter("id % 3 = 2"), "id")(spark)
    val got = envelopeSegments(media, blockSize = 64, threshold = thr)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .groupBy(_._1)
    var split = 0
    for (wid <- (1991L until 2090L).filter(_ % 3 == 2)) {
      val nn = (wid % 800 + 8).toInt
      val means = (0 until nn).grouped(64).map { blk =>
        blk.map(i => ((wid * 31 + i * 17) % 65536) - 32768).sum.toDouble /
          blk.size
      }.toSeq
      val voiced = means.zipWithIndex.filter(_._1 >= thr).map(_._2)
      val segs = voiced.foldLeft(List.empty[(Int, Int, Long)]) {
        case ((s, e, c) :: rest, b) if b == e + 1 => (s, b, c + 1) :: rest
        case (acc, b) => (b, b, 1L) :: acc
      }.reverse
      val gotSegs = got.getOrElse(wid, Array.empty).sortBy(_._2)
        .map(t => (t._2, t._3, t._4)).toList
      assert(gotSegs == segs, s"media $wid")
      if (segs.size >= 2) split += 1
    }
    assert(split > 0) // at least one media genuinely splits
  }

  test("y4m frame sampling decodes strided frames with formula-exact means") {
    val vids = Multimodal.syntheticVideo(spark.range(0, 20).toDF("id"), "id")(spark)
    val frames = Multimodal.frameSampleFeatures(vids, stride = 3).collect()
      .groupBy(_.media_id)
    // id 7: 4+3=... w=7%16+4=11, h=7%12+4=11, frames=7%12+2=9 → sampled 0,3,6
    assert(frames(7L).map(_.frame_idx).sorted.toSeq === Seq(0, 3, 6))
    val f0 = frames(7L).find(_.frame_idx == 0).get
    assert(f0.width === 11 && f0.height === 11)
    val expect = (for (y <- 0 until 11; x <- 0 until 11)
      yield (x * 7 + y * 13 + 7 * 31) % 256).sum.toDouble / (11 * 11)
    assert(f0.mean_val === expect)
    // every id yields ceil(frames/3) sampled frames
    assert(frames.forall { case (id, fs) =>
      fs.length == ((id % 12 + 2).toInt + 2) / 3 })
  }

  test("frameDeltas: zero inside scenes, formula-exact mad at boundaries") {
    val (id, w, h, frames, sl) = (5L, 6, 4, 10, 4)
    val r = Multimodal.MediaRecord(id,
      Multimodal.MediaGen.y4mScenes(id, w, h, frames, sl),
      Multimodal.MediaMeta("y4m", w, h, frames * 100L))
    val ds = Multimodal.MediaCodec.frameDeltas(r)
    assert(ds.map(_.frame_idx) === (1 until frames))
    val (cuts, flat) = ds.partition(_.frame_idx % sl == 0)
    assert(flat.forall(_.mad == 0.0))
    assert(cuts.map(_.frame_idx) === Seq(4, 8))
    assert(cuts.forall(_.mad > 1.0))
    val want = (for { y <- 0 until h; x <- 0 until w } yield math.abs(
      Multimodal.MediaGen.graySceneAt(id, 4, sl, x, y) -
        Multimodal.MediaGen.graySceneAt(id, 3, sl, x, y))).sum.toDouble / (w * h)
    assert(ds.find(_.frame_idx == 4).get.mad === want)
  }

  test("sceneCuts keeps only above-threshold boundaries, record-locally") {
    val vids = Multimodal.syntheticSceneVideo(
      spark.range(0, 12).toDF("id"), "id")(spark)
    val cuts = Multimodal.sceneCuts(vids, threshold = 1.0).collect()
    // every cut sits on a scene boundary below the stream's frame count
    assert(cuts.nonEmpty)
    assert(cuts.forall(c => c.frame_idx % 4 == 0 && c.frame_idx > 0))
    assert(cuts.forall(c => c.frame_idx < c.media_id % 10 + 6))
    // id 0: frames = 6 → exactly one boundary at 4
    assert(cuts.filter(_.media_id == 0L).map(_.frame_idx).toSeq === Seq(4))
  }

  test("corrupt y4m streams fail fast instead of spinning") {
    def rec(bytes: Array[Byte]) =
      Multimodal.MediaRecord(0L, bytes, Multimodal.MediaMeta("y4m", 4, 4, 0L))
    val good = Multimodal.MediaGen.y4m(0L, 4, 4, 2)
    // truncated mid-frame
    intercept[IllegalArgumentException] {
      Multimodal.MediaCodec.frameSample(rec(good.dropRight(5)), 1)
    }
    // missing FRAME marker
    val noMarker = "YUV4MPEG2 W4 H4 F10:1 Ip A1:1 Cmono\nXRAME\n".getBytes("US-ASCII") ++
      Array.fill[Byte](16)(0)
    intercept[IllegalArgumentException] {
      Multimodal.MediaCodec.frameSample(rec(noMarker), 1)
    }
    // non-mono chroma refused
    val c420 = "YUV4MPEG2 W4 H4 F10:1 Ip A1:1 C420\n".getBytes("US-ASCII")
    intercept[IllegalArgumentException] {
      Multimodal.MediaCodec.frameSample(rec(c420), 1)
    }
  }
}

class UrlsSpec extends AnyFunSuite with SparkTestBase {

  private def canon(urls: String*): Seq[String] = {
    import spark.implicits._
    urls.toDF("url").select(Urls.canonicalizeUrl(col("url")).as("c"))
      .as[String].collect().toSeq
  }

  test("canonicalizeUrl: every normalization branch") {
    assert(canon(
      "HTTP://WWW.Example.COM:80/Articles/7/?utm_source=feed&b=2&a=1#frag",
      "https://example.com:443/Articles/7?a=1&b=2",
      "http://example.com/Articles/7?b=2&a=1&fbclid=xyz",
      " http://example.com/Articles/7?a=1&b=2 ",
      "http://example.com/?utm_campaign=x",
      "https://example.com:8443/p",      // NON-default port survives
      "http://example.com/CaseSensitive/Path"
    ) === Seq(
      "http://example.com/Articles/7?a=1&b=2",
      "https://example.com/Articles/7?a=1&b=2",
      "http://example.com/Articles/7?a=1&b=2",
      "http://example.com/Articles/7?a=1&b=2",
      "http://example.com",
      "https://example.com:8443/p",
      "http://example.com/CaseSensitive/Path"))
  }

  test("canonicalizeUrl: non-URL strings degrade gracefully") {
    // no authority match: treated as all-path (trailing slash stripped)
    assert(canon("not a url/", "relative/path?b=2&a=1#x") ===
      Seq("not a url", "relative/path?a=1&b=2"))
  }

  test("urlDedup collapses spelling variants to min id with counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "http://www.Example.com/A?b=2&a=1"),
      (2L, "HTTP://example.COM:80/A/?a=1&b=2#z"),
      (3L, "http://example.com/A?a=1&b=2&utm_medium=email"),
      (9L, "https://example.com/B")).toDF("doc_id", "url")
    val got = Urls.urlDedup(df, "doc_id", "url")
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(
      ("http://example.com/A?a=1&b=2", 1L, 3L),
      ("https://example.com/B", 9L, 1L)))
  }

}
