package graft

import graft.diff.{DatasetComparator, DiffOptions}
import graft.schema.{Flattener, SchemaUtils}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property-based invariants over generated data (SURVEY.md §5 rebuild
  * strategy): reflexivity of the diff, flatten/selector structure laws,
  * hash/dedup identities. Row counts are kept small and successful-test
  * counts low — each property spins Spark jobs; these check SEMANTICS,
  * the scale story is the bench. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkTestBase.session
  import spark.implicits._

  private val rowGen = for {
    id <- Gen.choose(0, 1000)
    name <- Gen.alphaStr.map(_.take(8))
    amount <- Gen.choose(-1000000L, 1000000L).map(_ / 100.0)
  } yield (id, name, amount)

  private val tableGen = Gen.listOfN(12, rowGen).map(_.distinctBy(_._1))
    .suchThat(_.nonEmpty)

  property("diff(df, df) is empty; passedCount == rowCount") =
    forAll(tableGen) { rows =>
      val df = rows.toDF("id", "name", "amount")
      val r = new DatasetComparator(df, df, DiffOptions(keys = Seq("id"))).compare()
      r.datasetsMatch && r.passedCount == rows.length
    }

  property("diff is symmetric under side swap") =
    forAll(tableGen, tableGen) { (a, b) =>
      val dfA = a.toDF("id", "name", "amount")
      val dfB = b.toDF("id", "name", "amount")
      val ab = new DatasetComparator(dfA, dfB, DiffOptions(keys = Seq("id"))).compare()
      val ba = new DatasetComparator(dfB, dfA, DiffOptions(keys = Seq("id"))).compare()
      ab.diffCount == ba.diffCount &&
        ab.refRowCount == ba.newRowCount && ab.newRowCount == ba.refRowCount
    }

  /** A reference table and an actual one derived from it: each row kept,
    * dropped or renamed, plus a few new rows. */
  private val pairGen = for {
    a <- tableGen
    fates <- Gen.listOfN(a.size, Gen.oneOf(0, 0, 1, 2))
    extra <- Gen.listOfN(3, rowGen)
  } yield (a, a.zip(fates).collect {
    case (r, 0) => r
    case ((id, name, amount), 2) => (id, name + "~", amount)
  } ++ extra.map { case (id, name, amount) => (id + 2000, name, amount) }.distinctBy(_._1))

  /** Both modes on the same inputs agree on every count and on the
    * sorted set of diff rows. */
  private def modesAgree(ref: org.apache.spark.sql.DataFrame,
      act: org.apache.spark.sql.DataFrame, keys: Seq[String]): Boolean = {
    val fast = new DatasetComparator(ref, act,
      DiffOptions(keys = keys, fastKeyed = true)).compare()
    val parity = new DatasetComparator(ref, act,
      DiffOptions(keys = keys, fastKeyed = false)).compare()
    def rows(r: graft.diff.ComparisonResult) = r.resultDF.map { d =>
      d.select(d.columns.sorted.map(d.col).toSeq: _*).collect().map(_.toString).sorted.toSeq
    }
    fast.refRowCount == parity.refRowCount && fast.newRowCount == parity.newRowCount &&
      fast.diffCount == parity.diffCount && fast.passedCount == parity.passedCount &&
      rows(fast) == rows(parity)
  }

  property("fast and parity keyed modes agree on diffCount/passedCount") =
    forAll(pairGen) { case (a, b) =>
      modesAgree(a.toDF("id", "name", "amount"), b.toDF("id", "name", "amount"), Seq("id"))
    }

  property("fast and parity keyless modes agree") =
    forAll(pairGen) { case (a, b) =>
      modesAgree(a.toDF("id", "name", "amount"), b.toDF("id", "name", "amount"), Nil)
    }

  /** Null keys, and arrays that are null, empty or end in a null element:
    * rows that differ while every flat column agrees. */
  private val edgeRowsGen = Gen.listOfN(6, Gen.zip(
    Gen.option(Gen.choose(0, 4)),
    Gen.oneOf[Option[Seq[Option[String]]]](None, Some(Nil), Some(Seq(Some("a"))),
      Some(Seq(Some("a"), None)), Some(Seq(None)), Some(Seq(Some("a"), Some("b"))))))
    .map(_.distinctBy(_._1))

  property("fast and parity modes agree on null keys and edge arrays") =
    forAll(edgeRowsGen, edgeRowsGen) { (a, b) =>
      modesAgree(a.toDF("id", "items"), b.toDF("id", "items"), Seq("id"))
    }

  property("flattening a struct-free DataFrame is the identity projection") =
    forAll(tableGen) { rows =>
      val df = rows.toDF("id", "name", "amount")
      val flat = Flattener.flattenDataFrame(df)
      flat.schema == df.schema && flat.collect().toSeq == df.collect().toSeq
    }

  property("selector projection is idempotent") = {
    val df = spark.sql("SELECT 1 AS b, named_struct('z', 2, 'a', 3) AS s, 'x' AS a")
    val once = df.select(SchemaUtils.dataFrameSelector(df.schema): _*)
    val twice = once.select(SchemaUtils.dataFrameSelector(once.schema): _*)
    once.schema == twice.schema && once.collect().toSeq == twice.collect().toSeq
  }

  property("minhash of identical texts identical; jaccard(t,t) == 1") =
    forAll(Gen.listOfN(6, Gen.alphaNumStr.suchThat(_.nonEmpty))) { words =>
      val text = words.mkString(" ")
      val df = Seq((1, text), (2, text)).toDF("id", "t")
      val sigs = df.select(graft.ops.Dedup.minhashSignature(col("t"), 8, 2).as("sig"))
        .collect().map(_.getAs[scala.collection.Seq[Long]]("sig"))
      val j = df.limit(1).select(
        graft.ops.Dedup.jaccard(col("t"), col("t"), 2).as("j")).collect().head.getDouble(0)
      sigs(0) == sigs(1) && j == 1.0
    }

  property("simhash60 deterministic and within 60 bits") =
    forAll(Gen.listOfN(10, Gen.alphaNumStr)) { words =>
      val df = Seq(Tuple1(words)).toDF("toks")
      val h1 = df.select(graft.functions.simhash60(col("toks"))).collect().head.getLong(0)
      val h2 = df.select(graft.functions.simhash60(col("toks"))).collect().head.getLong(0)
      h1 == h2 && h1 >= 0 && h1 < (1L << 60)
    }

  private val edgeGen = Gen.listOfN(15,
    Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 20L)).suchThat(p => p._1 != p._2))
    .suchThat(_.nonEmpty)

  property("connected components: labels are component-closed minima") =
    forAll(edgeGen) { es =>
      val pairs = es.toDF("id1", "id2")
      val labels = graft.ops.Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every edge endpoint is labeled, labels never exceed the node,
      // and both ends of every edge agree on the label
      val nodes = es.flatMap(e => Seq(e._1, e._2)).toSet
      nodes.forall(labels.contains) &&
        labels.forall { case (n, l) => l <= n } &&
        es.forall { case (a, b) => labels(a) == labels(b) } &&
        labels.values.forall(l => labels(l) == l) // representatives are fixpoints
    }

  property("asOfJoin preserves left row count and never matches forward") =
    forAll(Gen.listOfN(8, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 50L))),
      Gen.listOfN(8, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 50L)))) { (ls, rs) =>
      val left = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i) }
        .toDF("k", "ts", "row_id")
      val right = rs.toDF("k", "ts").withColumn("v", col("ts") * 10)
      val out = graft.ops.AsOf.asOfJoin(left, right, "k", "ts", Seq("v")).collect()
      out.length == ls.length &&
        out.forall { r =>
          r.isNullAt(r.fieldIndex("asof_ts")) ||
            r.getLong(r.fieldIndex("asof_ts")) <= r.getLong(r.fieldIndex("ts"))
        }
    }

  property("hash sampling partitions the corpus: rates 0 and 100 are ∅ and all") =
    forAll(Gen.listOfN(30, Gen.choose(0L, 10000L)).map(_.distinct)) { ids =>
      val df = ids.toDF("id")
      graft.ops.CorpusOps.hashSample(df, "id", 0).count() == 0 &&
        graft.ops.CorpusOps.hashSample(df, "id", 100).count() == ids.length
    }

  private val chunkParamsGen = for {
    nTokens <- Gen.choose(0, 40)
    size <- Gen.choose(1, 12)
    stride <- Gen.choose(1, 12)
  } yield (nTokens, size, stride)

  property("chunking covers every token; stride-aligned starts reconstruct the doc") =
    forAll(chunkParamsGen) { case (nT0, size0, stride0) =>
      // clamp: ScalaCheck shrinking ignores Gen bounds, and the
      // reconstruction law needs stride <= size (full coverage)
      val nTokens = math.max(0, nT0)
      val size = math.max(1, size0)
      val stride = math.min(math.max(1, stride0), size)
      val text = (1 to nTokens).map(i => s"w$i").mkString(" ")
      val chunks = graft.ops.CorpusOps.chunk(
          Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text", size, stride)
        .orderBy("chunk_id")
        .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3)))
      val toks = if (nTokens == 0) Nil else text.split(" ").toSeq
      // chunk i holds tokens [i*stride, i*stride + size)
      val expectedChunks = if (toks.isEmpty) 1 else (toks.length - 1) / stride + 1
      chunks.length == expectedChunks &&
        chunks.forall { case (i, n, t) =>
          val want = toks.slice(i * stride, i * stride + size)
          n == want.length && t == want.mkString(" ")
        } &&
        // stride-prefix reconstruction: the first `stride` tokens of each
        // chunk plus the final chunk's tail reproduce the document
        (toks.isEmpty || chunks.toSeq.flatMap { case (i, _, t) =>
          val ts = if (t.isEmpty) Nil else t.split(" ").toSeq
          if (i == chunks.length - 1) ts else ts.take(stride)
        } == toks)
    }

  property("zorder values stay within 2*bits bits and are unique per cell") =
    forAll(Gen.choose(1, 12), Gen.listOfN(20,
        Gen.zip(Gen.choose(0L, 4095L), Gen.choose(0L, 4095L))).map(_.distinct)) {
      (bits, cells) =>
      val mask = (1L << bits) - 1
      val df = cells.toDF("x", "y")
      val zs = df.select(col("x"), col("y"),
          graft.ops.Layout.zorderValue(col("x"), col("y"), bits).as("z"))
        .collect().map(r => ((r.getLong(0) & mask, r.getLong(1) & mask), r.getLong(2)))
      zs.forall { case (_, z) => z >= 0 && z < (1L << (2 * bits)) } &&
        zs.groupBy(_._1).forall { case (_, vs) => vs.map(_._2).distinct.length == 1 } &&
        zs.toMap.size == zs.map(_._1).distinct.length
    }

  property("redaction is idempotent and leaves tag-free text unchanged") =
    forAll(Gen.listOfN(8, Gen.alphaStr.map(_.take(10))).map(_.mkString(" "))) { text =>
      val df = Seq((1L, text)).toDF("id", "t")
      def red(c: org.apache.spark.sql.Column) = graft.functions.TextFunctions.redact(c)
      val once = df.select(red(col("t"))).collect()(0).getString(0)
      val twice = df.select(red(red(col("t")))).collect()(0).getString(0)
      once == text && twice == once // alpha-only text has no PII shapes
    }

  property("changeFeed round-trips through applyChanges for any snapshot pair") =
    forAll(tableGen, tableGen) { (a, b) =>
      val prev = a.toDF("id", "name", "amount")
      val next = b.toDF("id", "name", "amount")
      val feed = graft.ops.Merge.changeFeed(prev, next, "id")
        .withColumn("is_delete", col("op") === "D").drop("op")
      graft.ops.Merge.applyChanges(prev, feed, "id")
        .orderBy("id").collect().toSeq.map(_.toSeq) ==
        next.orderBy("id").collect().toSeq.map(_.toSeq)
    }

  private val obsGen = Gen.listOfN(25, for {
    k <- Gen.choose(1L, 4L)
    ts <- Gen.choose(0L, 15L)
    st <- Gen.oneOf("a", "b", "c")
  } yield (k, ts, st)).map(_.zipWithIndex.map {
    case ((k, ts, st), i) => (k, ts, i.toLong, st)
  }).suchThat(_.nonEmpty)

  private val corpusGen = Gen.listOfN(10, for {
    id <- Gen.choose(0L, 500L)
    words <- Gen.listOfN(12, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
  } yield (id, words.mkString(" "))).map(_.distinctBy(_._1)).suchThat(_.nonEmpty)

  property("removeBoilerplate: kept spans ⊆ spans, clean tokens ⊆ original tokens") =
    forAll(corpusGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val out = graft.ops.CorpusOps.removeBoilerplate(df, "doc_id", "text",
          unit = 4, maxDf = 2)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      val orig = docs.toMap
      out.length == docs.length && out.forall { case (id, (nSpans, nKept, clean)) =>
        nKept <= nSpans && nSpans >= 1 &&
          clean.split(" ").filter(_.nonEmpty)
            .forall(orig(id).split(" ").contains(_))
      }
    }

  private val keySetGen = Gen.listOf(Gen.choose(0L, 300L)).map(_.distinct)
    .suchThat(_.nonEmpty)

  property("islands partition the key set: lengths sum to |keys|, ranges disjoint") =
    forAll(keySetGen) { keys =>
      val out = graft.ops.Islands.islands(keys.toDF("k"), "k", bucketWidth = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      out.map(_._3).sum == keys.length &&
        out.forall { case (s, e, len) => e - s + 1 == len } &&
        out.sliding(2).forall {
          case Array(a, b) => a._2 + 1 < b._1 // maximality: a gap separates islands
          case _ => true
        }
    }

  property("kmeansFixedPoint member counts sum to the corpus size") =
    forAll(Gen.choose(10, 40)) { n =>
      val pts = (0 until n).map(i =>
        (i.toLong, Array.tabulate(3)(d => ((i * 13 + d * 7) % 31) / 31.0f)))
      val out = graft.ops.Similarity.kmeansFixedPoint(
          pts.toDF("id", "vec"), "id", "vec", k = 3, iterations = 1)
        .select("cid", "n_members").distinct()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      out.values.sum == n.toLong
    }

  property("cdcChunks tile every document: contiguous, complete, in order") =
    forAll(Gen.choose(1, 80), Gen.choose(0, 1000)) { (nWords, salt) =>
      val text = (0 until nWords).map(i => s"t${(i * 31 + salt) % 41}").mkString(" ")
      val chunks = graft.ops.CorpusOps.cdcChunks(
          Seq((1L, text)).toDF("doc_id", "text"),
          "doc_id", "text", shingleSize = 2, modulus = 4)
        .orderBy("chunk_idx")
        .select("chunk_idx", "start_tok", "n_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      chunks.nonEmpty &&
        chunks.head._2 == 0L &&
        chunks.map(_._1) == chunks.indices.map(_.toLong) &&
        chunks.sliding(2).forall {
          case Seq(a, b) => a._2 + a._3 == b._2
          case _ => true
        } &&
        chunks.map(_._3).sum == nWords.toLong &&
        chunks.forall(_._3 > 0)
    }

  property("kmeansFixedPoint rejects sparse ids that under-seed k") =
    forAll(Gen.choose(3, 6)) { k =>
      // ids start at 100, so no id < k exists → seed validation fires
      val pts = (100 until 120).map(i =>
        (i.toLong, Array.tabulate(3)(d => ((i * 13 + d * 7) % 31) / 31.0f)))
      scala.util.Try(graft.ops.Similarity.kmeansFixedPoint(
        pts.toDF("id", "vec"), "id", "vec", k = k, iterations = 1).count())
        .failed.toOption.exists(_.getMessage.contains("re-key ids densely"))
    }

  property("hammingPairs64 equals brute force on random 64-bit hashes") =
    forAll(Gen.listOfN(14, Gen.long).map(_.distinct).suchThat(_.size >= 2)) { hs =>
      val rows = hs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      val got = graft.ops.Dedup.hammingPairs64(
          rows.toDF("id", "ph"), "id", "ph", maxHamming = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        (i, a) <- rows; (j, b) <- rows if i < j
        d = java.lang.Long.bitCount(a ^ b) if d <= 7
      } yield (i, j, d)).toSet
      got == want
    }

  property("triangleCount equals brute-force enumeration on random graphs") =
    forAll(Gen.listOfN(40, for {
      a <- Gen.choose(0L, 12L); b <- Gen.choose(0L, 12L)
    } yield (a, b))) { edges =>
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (e._1 min e._2, e._1 max e._2)).distinct.toSet
      val got = graft.ops.Graph.triangleCount(
          edges.toDF("src", "dst"), "src", "dst")
        .collect().map(_.getLong(1)).sum
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val want = (for {
        a <- nodes; b <- nodes if a < b && und((a, b))
        c <- nodes if b < c && und((b, c)) && und((a, c))
      } yield 1).size.toLong
      got == want
    }

  property("scd2 intervals chain per key with exactly one current version") =
    forAll(obsGen) { obs =>
      val df = obs.toDF("k", "ts", "seq", "st")
      val hist = graft.ops.Merge.scd2(df, "k", "ts", "seq", Seq("st"))
        .select("k", "seq", "valid_from", "valid_to")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
      hist.groupBy(_._1).forall { case (_, rows) =>
        val sorted = rows.sortBy(r => (r._3, r._2)) // (valid_from, seq)
        sorted.count(_._4.isEmpty) == 1 && sorted.last._4.isEmpty &&
          sorted.sliding(2).forall {
            case Array(x, y) => x._4.contains(y._3) // valid_to == next valid_from
            case _ => true
          }
      }
    }

  private val noveltyCorpusGen = Gen.listOfN(8, for {
    id <- Gen.choose(0L, 30L)
    words <- Gen.listOfN(6, Gen.oneOf("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta"))
  } yield (id, words.mkString(" "))).map(_.distinctBy(_._1)).suchThat(_.nonEmpty)

  property("noveltyCounts conserve: Σ novel = |distinct hashes|, novel ≤ total per doc") =
    forAll(noveltyCorpusGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val got = graft.ops.CorpusOps.noveltyCounts(df, "doc_id", "text", 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val distinctHashes = df.select(explode(graft.functions.shingleHash64(
          graft.functions.TextFunctions.tokens(col("text")), 2)).as("h"))
        .distinct().count()
      // every distinct hash is novel for exactly its first carrier
      got.map(_._3).sum == distinctHashes &&
        got.forall { case (_, tot, nov) => nov >= 0 && nov <= tot } &&
        got.length == docs.length
    }

  property("overlapMatrix: shared ≤ min of either group's distinct hashes") =
    forAll(Gen.listOfN(10, for {
      lang <- Gen.oneOf("en", "fr", "de")
      words <- Gen.listOfN(5, Gen.oneOf("u", "v", "w", "x", "y"))
    } yield (lang, words.mkString(" ")))) { docs =>
      val df = docs.toDF("lang", "text")
      val perGroup = df.select(col("lang"),
          explode(graft.functions.shingleHash64(
            graft.functions.TextFunctions.tokens(col("text")), 2)).as("h"))
        .distinct().groupBy("lang").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      graft.ops.CorpusOps.overlapMatrix(df, "lang", "text", 2)
        .collect().forall { r =>
          val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
          n >= 1 && n <= math.min(perGroup(a), perGroup(b)) && a < b
        }
    }

  property("budgetedMix: greedy prefix semantics, bucket-size invariant") =
    forAll(
      Gen.listOfN(15, for {
        id <- Gen.choose(0L, 60L)
        src <- Gen.oneOf("a", "b", "c")
        n <- Gen.choose(0, 6)
      } yield (id, src, Seq.fill(n)("w").mkString(" ")))
        .map(_.distinctBy(_._1)).suchThat(_.nonEmpty),
      Gen.choose(1L, 20L), Gen.choose(1L, 20L)) { (rows, budA, budB) =>
      val df = rows.toDF("doc_id", "source", "text")
      val budgets = Seq(("a", budA), ("b", budB)).toDF("source", "budget")
      def run(bs: Long) = graft.ops.CorpusOps
        .budgetedMix(df, "doc_id", "text", "source", budgets, bs)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      def tok(t: String) = t.split(" ").count(_.nonEmpty).toLong
      // reference: the plain per-source greedy prefix, folded in Scala
      val ref = rows.filter(_._2 != "c").groupBy(_._2).flatMap {
        case (src, rs) =>
          val bud = if (src == "a") budA else budB
          val sorted = rs.sortBy(_._1)
          val cumBefore = sorted.scanLeft(0L)((acc, r) => acc + tok(r._3))
          sorted.zip(cumBefore).collect {
            case (r, cb) if cb < bud => (r._1, r._2, tok(r._3))
          }
      }.toSet
      val got = run(7L)
      got == ref && run(1L) == got && run(1000L) == got
    }

  property("epochPlan: full epochs + remainder prefix, bucket-size invariant") =
    forAll(
      Gen.listOfN(12, for {
        id <- Gen.choose(0L, 40L)
        src <- Gen.oneOf("a", "b")
        n <- Gen.choose(0, 5)
      } yield (id, src, Seq.fill(n)("w").mkString(" ")))
        .map(_.distinctBy(_._1)).suchThat(_.nonEmpty),
      Gen.choose(0L, 60L), Gen.choose(0L, 60L)) { (rows, budA, budB) =>
      val df = rows.toDF("doc_id", "source", "text")
      val budgets = Seq(("a", budA), ("b", budB)).toDF("source", "budget")
      def run(bs: Long) = graft.ops.CorpusOps
        .epochPlan(df, "doc_id", "text", "source", budgets, bs)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      def tok(t: String) = t.split(" ").count(_.nonEmpty).toLong
      // reference: budget div total full epochs, remainder greedy prefix
      val ref = rows.groupBy(_._2).flatMap { case (src, rs) =>
        val bud = if (src == "a") budA else budB
        val tt = rs.map(r => tok(r._3)).sum
        val full = if (tt > 0) bud / tt else 0L
        val rem = bud - full * tt
        val sorted = rs.sortBy(_._1)
        val cumBefore = sorted.scanLeft(0L)((acc, r) => acc + tok(r._3))
        sorted.zip(cumBefore).collect {
          case (r, cb) if full + (if (cb < rem) 1L else 0L) > 0 =>
            (r._1, r._2, tok(r._3), full + (if (cb < rem) 1L else 0L))
        }
      }.toSet
      val got = run(7L)
      got == ref && run(1L) == got && run(1000L) == got
    }

  property("shardShuffle: deterministic, partition-invariant, dense seq") =
    forAll(Gen.listOf(Gen.choose(0L, 500L)).map(_.distinct).suchThat(_.nonEmpty),
      Gen.choose(1, 6)) { (ids, nShards) =>
      val df = ids.toDF("doc_id")
      def run(d: org.apache.spark.sql.DataFrame) =
        graft.ops.CorpusOps.shardShuffle(d, "doc_id", nShards)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val a = run(df)
      a == run(df.repartition(5)) &&            // input layout never matters
      a.map(_._1) == ids.toSet &&               // a permutation, no loss
      a.forall { case (_, sh, _) => sh >= 0 && sh < nShards } &&
      a.groupBy(_._2).forall { case (_, rs) =>  // seq dense from 1 per shard
        rs.map(_._3) == (1L to rs.size.toLong).toSet }
    }

  property("shardAssignBatch: arrival fold stays dense and shard-consistent") =
    forAll(Gen.listOf(Gen.choose(0L, 300L)).map(_.distinct).suchThat(_.nonEmpty),
      Gen.choose(1, 5), Gen.choose(1, 4)) { (ids, nShards, nBatches) =>
      val groups = ids.sorted
        .grouped(math.max(1, ids.size / nBatches + 1)).toSeq
      var seen = Seq.empty[(Int, Long)].toDF("shard", "n_seen")
        .localCheckpoint(eager = true)
      var out = Seq.empty[(Long, Int, Long)]
      groups.foreach { g =>
        val (asg, ns) = graft.ops.CorpusOps.shardAssignBatch(seen,
          g.toDF("doc_id"), "doc_id", nShards)
        out ++= asg.select("doc_id", "shard", "seq").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        seen = ns.localCheckpoint(eager = true)
      }
      val batchShard = graft.ops.CorpusOps
        .shardShuffle(ids.toDF("doc_id"), "doc_id", nShards)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      out.map(_._1).toSet == ids.toSet &&                 // no loss, no dup
      out.forall { case (id, sh, _) => batchShard(id) == sh } && // same shard
      out.groupBy(_._2).forall { case (_, rs) =>          // dense per shard
        rs.map(_._3).toSet == (1L to rs.size.toLong).toSet }
    }

  property("packIndex/packAssignBatch: contiguous shard layout, fold-consistent") =
    forAll(Gen.listOf(Gen.choose(0L, 300L)).map(_.distinct).suchThat(_.nonEmpty),
      Gen.choose(1, 4), Gen.choose(1, 3)) { (ids, nShards, nBatches) =>
      val rows = ids.map(i => (i, "x" * ((i % 7).toInt + 1)))
      def toBin(rs: Seq[(Long, String)]) = rs.toDF("doc_id", "text")
        .select(col("doc_id"), col("text").cast("binary").as("p"))
      def contiguous(rs: Seq[(Long, Int, Long, Long)]): Boolean =
        rs.groupBy(_._2).forall { case (_, g) =>
          val sorted = g.sortBy(_._4)
          // offsets are exactly the prefix sums of lengths: no gap, no overlap
          sorted.scanLeft(0L)(_ + _._3).init
            .zip(sorted.map(_._4)).forall { case (want, got) => want == got }
        }
      val batch = graft.ops.Multimodal.packIndex(toBin(rows), "doc_id", "p", nShards)
        .select("doc_id", "shard", "length", "offset").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
      var seen = Seq.empty[(Int, Long)].toDF("shard", "n_bytes")
        .localCheckpoint(eager = true)
      var out = Seq.empty[(Long, Int, Long, Long)]
      ids.sorted.grouped(math.max(1, ids.size / nBatches + 1)).foreach { g =>
        val (asg, ns) = graft.ops.Multimodal.packAssignBatch(seen,
          toBin(rows.filter(r => g.contains(r._1))), "doc_id", "p", nShards)
        out ++= asg.select("doc_id", "shard", "length", "offset").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        seen = ns.localCheckpoint(eager = true)
      }
      val m = batch.map(r => r._1 -> (r._2, r._3)).toMap
      contiguous(batch) && contiguous(out) &&      // both layouts gap-free
      out.forall { case (id, sh, len, _) => m(id) == ((sh, len)) } &&
      out.map(_._1).toSet == ids.toSet
    }

  property("vectorNearDupFilter: admission invariant under any batch split") =
    forAll(
      Gen.listOfN(8, Gen.listOfN(4, Gen.choose(-5, 5).map(_.toDouble)))
        .map(_.zipWithIndex.map { case (v, i) => (100L + i, v) }),
      Gen.listOfN(8, Gen.oneOf(true, false))) { (cands, mask) =>
      val corpus = Seq((0L, Seq(4.0, 0.0, 1.0, 0.0)),
        (1L, Seq(0.0, 4.0, 0.0, 1.0)),
        (2L, Seq(1.0, 1.0, 4.0, 0.0))).toDF("vec_id", "v")
      val idx = graft.ops.Dedup.vectorNearDupIndex(corpus, "vec_id", "v",
          dim = 4, bits = 4)
        .localCheckpoint(eager = true)
      def admit(rs: Seq[(Long, Seq[Double])]): Set[Long] =
        if (rs.isEmpty) Set.empty
        else graft.ops.Dedup.vectorNearDupFilter(idx, rs.toDF("vec_id", "v"),
            "vec_id", "v", dim = 4, bits = 4, tau = 0.9)
          .select("vec_id").collect().map(_.getLong(0)).toSet
      val whole = admit(cands)
      val m = mask.padTo(cands.length, false)
      val (l, r) = cands.zip(m).partition(_._2)
      admit(l.map(_._1)) ++ admit(r.map(_._1)) == whole
    }

  property("refreshHybridView ≡ full recompute for any mixed changeset") =
    forAll(
      Gen.listOfN(20, for {
        g <- Gen.choose(0L, 4L); x <- Gen.choose(1L, 50L)
      } yield (g, x.toDouble)).suchThat(_.nonEmpty),
      Gen.listOfN(8, for {
        g <- Gen.choose(0L, 5L); x <- Gen.choose(1L, 50L)
      } yield (g, x.toDouble)),
      Gen.choose(0L, 4L)) { (base, ins, delGroup) =>
      // deletes: the delete-group's low half retracts; inserts may
      // create brand-new groups (g = 5) and touch the delete group too
      val base0 = base.zipWithIndex
        .map { case ((g, x), i) => (g, x, i.toLong) }
        .toDF("g", "x", "rid")
      val state = base0.groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(18,2)")).as("total"),
        min(col("x")).as("min_v"), max(col("x")).as("max_v"))
        .localCheckpoint(eager = true)
      val delPred = col("g") === delGroup && col("x") <= 25.0
      val insDf = ins.zipWithIndex
        .map { case ((g, x), i) => (g, x, 1000L + i) }
        .toDF("g", "x", "rid")
      val delta = insDf.withColumn("sign", lit(1L))
        .unionAll(base0.filter(delPred).withColumn("sign", lit(-1L)))
      val baseNew = base0.filter(!delPred).unionAll(insDf)
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("g"), col("n"), col("total").cast("double"),
          col("min_v"), col("max_v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4))).sortBy(_._1).toSeq
      val want = canon(baseNew.groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(18,2)")).as("total"),
        min(col("x")).as("min_v"), max(col("x")).as("max_v")))
      canon(graft.ops.Merge.refreshHybridView(
        state, delta, baseNew, "g", "x", "sign")) == want
    }

  property("longestPathLayers: every DAG edge rises exactly-one-or-more at the fixed point") =
    forAll(Gen.listOfN(20, for {
      a <- Gen.choose(0L, 10L); b <- Gen.choose(0L, 10L)
    } yield (a, b)).map(_.collect { case (a, b) if a < b => (a, b) })
      .suchThat(_.nonEmpty)) { dag =>
      // ascending edges only → acyclic; 11 nodes → depth ≤ 10 ≤ 12 rounds
      val layers = graft.ops.Graph.longestPathLayers(
          dag.toDF("src", "dst"), "src", "dst", iterations = 12)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      dag.forall { case (s, d) => layers(d) >= layers(s) + 1 } &&
        layers.values.forall(_ >= 0)
    }
}
