package graftbench

import scala.collection.mutable

import graft.functions.TextFunctions.tokens
import graft.io.{DataFrameIO, SourceParams}
import graft.ops.{CorpusOps, Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A training-data pass over a seeded document corpus with injected
  * exact copies, near-duplicate families and repetitive documents, plus
  * an IVF index over document embeddings searched by a query panel. A
  * round is one full pass. */
final class CorpusPrep(ctx: Ctx) extends Workload {
  import CorpusPrep._

  private val spark = ctx.spark
  private val lat = new Samples
  private var docsDone = 0L
  private var passWall = 0.0
  private var bytesIn = 0L
  private var bytesOut = 0L
  private var found = 0L
  private var injected = 0L
  private var opId = 0L
  private val main = new Corpus

  /** A generated corpus and everything known about it. */
  private final class Corpus {
    val docsAt: String = ctx.path("corpus/docs")
    val embAt: String = ctx.path("corpus/emb")
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    /** original id → ids of its exact copies */
    val copies = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    /** (original, variant) near-duplicate pairs */
    val nearPairs = mutable.ArrayBuffer.empty[(Long, Long)]
    val repetitive = mutable.Set.empty[Long]
    /** ids a correct dedup may drop: exact copies and variants */
    lazy val derived: Set[Long] = (copies.valuesIterator.flatten ++ nearPairs.map(_._2)).toSet
    var vectors: Array[Array[Double]] = Array.empty
    var queries: Array[Array[Double]] = Array.empty
    var exactTopK: Array[Seq[Long]] = Array.empty
    def n: Long = docs.size.toLong

    def generate(): Unit = {
      val base = BaseDocs
      val rnd = new scala.util.Random(ctx.seed * 31 + base)
      val vocab = Array.fill(4000)(Iterator.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)
      def words(k: Int) = Array.fill(k)(vocab(rnd.nextInt(vocab.length)))
      val bodies = Array.fill(base)(words(20 + rnd.nextInt(30)))
      bodies.foreach(b => docs += ((docs.size.toLong, b.mkString(" "))))
      (0 until base / 50).foreach { _ =>
        val phrase = words(8)
        val id = docs.size.toLong
        repetitive += id
        docs += ((id, Iterator.fill(5)(phrase.mkString(" ")).mkString(" ")))
      }
      (0 until base / 25).foreach { _ =>
        val orig = rnd.nextInt(base).toLong
        val id = docs.size.toLong
        copies.getOrElseUpdate(orig, mutable.ArrayBuffer.empty) += id
        docs += ((id, docs(orig.toInt)._2.toUpperCase))
      }
      (0 until base / 25).foreach { _ =>
        val orig = rnd.nextInt(base)
        (0 until 1 + rnd.nextInt(2)).foreach { _ =>
          val rate = 0.01 + rnd.nextDouble() * 0.07
          val toks = bodies(orig).map(w => if (rnd.nextDouble() < rate) vocab(rnd.nextInt(vocab.length)) else w)
          if (!toks.sameElements(bodies(orig))) {
            val id = docs.size.toLong
            nearPairs += ((orig.toLong, id))
            docs += ((id, toks.mkString(" ")))
          }
        }
      }
      val centers = Array.fill(24)(Array.fill(Dim)(rnd.nextGaussian()))
      vectors = Array.fill(base * 2) {
        val c = centers(rnd.nextInt(centers.length))
        c.map(_ + rnd.nextGaussian() * 0.6)
      }
      queries = Array.fill(Queries)(vectors(rnd.nextInt(vectors.length)).map(_ + rnd.nextGaussian() * 0.3))
      exactTopK = queries.map { q =>
        vectors.indices.map(i => (i.toLong, cosine(vectors(i), q)))
          .sortBy { case (i, c) => (-c, i) }.take(K).map(_._1)
      }
      spark.createDataFrame(java.util.Arrays.asList(docs.map { case (i, t) => Row(i, t) }.toSeq: _*),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
        .repartition(4).write.parquet(docsAt)
      spark.createDataFrame(java.util.Arrays.asList(vectors.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v.toSeq) }.toSeq: _*),
        StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType)))))
        .repartition(4).write.parquet(embAt)
    }

    /** The exact top-k must agree with graft's brute-force search
      * (checked on the first few queries of the panel). */
    def verifyTopK(): Unit = {
      val emb = spark.read.parquet(embAt)
      val bad = Workload.parallel(queries.indices.take(4).map(i => () => {
        val q = spark.createDataFrame(java.util.Arrays.asList(Row(queries(i).toSeq)),
          StructType(Seq(StructField("q", ArrayType(DoubleType)))))
        val got = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, K)
          .collect().map(_.getLong(0)).toSeq
        if (got == exactTopK(i)) None else Some(s"query $i: $got vs ${exactTopK(i)}")
      })).flatten
      require(bad.isEmpty, s"exact top-k disagrees with bruteForceTopK: ${bad.mkString("; ")}")
    }
  }

  def setup(): Unit = {
    main.generate()
    main.verifyTopK()
  }

  def inputRows: Long = main.n + main.vectors.length
  def inputBytes: Long = Files.du(main.docsAt) + Files.du(main.embAt)

  private def pass(c: Corpus, checks: Checks, timed: Boolean, index: Int): Unit = {
    val out = ctx.path(s"corpus_out/pass$index")
    opId += 1
    checks.op(s"pass $index") {
      val r = new PassResult
      val ((), s) = Workload.timed { ctx.span("op.pass", opId) {
        val docs = spark.read.parquet(c.docsAt)
        r.exactGroups = ctx.span("ops.dedup_exact") {
          Dedup.exact(docs, "doc_id", "text").filter(col("n_copies") > 1)
            .collect().map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
        }
        r.survivors = ctx.span("ops.dedup_near") {
          val ids = Dedup.dedupCorpus(docs, "doc_id", "text").collect().map(_.getLong(0)).toSet
          ctx.tracer.note("pairs_found", c.nearPairs.count { case (_, v) => !ids.contains(v) })
          ids
        }
        r.signals = ctx.span("ops.quality") {
          CorpusOps.repetitionSignals(docs, "doc_id", "text").collect()
            .map(r => r.getLong(0) -> r.getDouble(2)).toMap
        }
        val keep = spark.createDataFrame(java.util.Arrays.asList(r.survivors.toSeq.map(Row(_)): _*),
          StructType(Seq(StructField("doc_id", LongType))))
        r.writes += Workload.timed { ctx.span("io.write") {
          val w = DataFrameIO.write(docs.join(keep, "doc_id"), SourceParams("parquet", Some(s"$out/deduped")))(spark)
          if (ctx.traced) ctx.tracer.note("bytes", Files.du(w).toDouble)
        } }._2
        val idx = ctx.span("ops.ivf_build") {
          val i = Similarity.ivfIndexSeeded(spark.read.parquet(c.embAt), "vec_id", "embedding", NList)
          i.assigned.persist().count()
          i
        }
        r.writes += Workload.timed { ctx.span("io.write") {
          val w = DataFrameIO.write(idx.assigned, SourceParams("parquet", Some(s"$out/ivf")))(spark)
          if (ctx.traced) ctx.tracer.note("bytes", Files.du(w).toDouble)
        } }._2
        r.searches = c.queries.toSeq.map { q =>
          Workload.timed { ctx.span("ops.ivf_search") {
            idx.search(q, K, NProbe).collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
          } }
        }
        idx.assigned.unpersist()
        ()
      } }
      val bad = check(c, r)
      if (timed) {
        docsDone += c.n
        passWall += s
        bytesIn += Files.du(c.docsAt) + Files.du(c.embAt)
        bytesOut += Files.du(out)
        r.writes.foreach(lat.add("write", _))
        r.searches.zipWithIndex.foreach { case ((got, qs), qi) =>
          lat.add("search", qs)
          found += got.map(_._1).toSet.intersect(c.exactTopK(qi).toSet).size
        }
        found += c.nearPairs.count { case (_, v) => !r.survivors.contains(v) }
        injected += c.nearPairs.size + K * c.queries.length
      }
      bad
    }
    if (ctx.traced && timed) kernels(c)
  }

  private def check(c: Corpus, r: PassResult): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val wantGroups = c.copies.map { case (o, cs) => o -> (cs.size + 1L) }.toMap
    if (r.exactGroups != wantGroups)
      bad += s"exact groups: ${r.exactGroups.size} found, ${wantGroups.size} injected"
    val lost = (0L until c.n).count(id => !c.derived.contains(id) && !r.survivors.contains(id))
    if (lost > 0) bad += s"$lost original documents dropped by dedupCorpus"
    val keptCopies = c.copies.valuesIterator.flatten.count(r.survivors.contains)
    if (keptCopies > 0) bad += s"$keptCopies exact copies survived dedupCorpus"
    if (r.signals.size != c.n) bad += s"${r.signals.size} quality rows for ${c.n} documents"
    val missed = c.repetitive.count(id => r.signals(id) < 0.5)
    val flagged = r.signals.count { case (id, f) => !c.repetitive.contains(id) && f >= 0.5 }
    if (missed + flagged > 0) bad += s"repetition signal: $missed missed, $flagged false"
    r.searches.zipWithIndex.foreach { case ((got, _), qi) =>
      if (got.size != K) bad += s"query $qi returned ${got.size} rows"
      val wrong = got.count { case (id, cs) =>
        math.abs(cs - cosine(c.vectors(id.toInt), c.queries(qi))) > 1e-9 }
      if (wrong > 0) bad += s"query $qi: $wrong wrong cosines"
    }
    bad.toSeq
  }

  /** Kernel-only selects: MinHash signatures and dot products. */
  private def kernels(c: Corpus): Unit = {
    val docs = spark.read.parquet(c.docsAt)
    ctx.span("functions.minhash") {
      docs.select(size(graft.functions.minhashSig(
        graft.functions.shingleHash64(tokens(col("text")), 3), Dedup.minhashSeeds(12))).as("n"))
        .agg(sum("n")).collect()
      ctx.tracer.note("rows", c.n)
    }
    val emb = spark.read.parquet(c.embAt)
    ctx.span("functions.dot") {
      emb.select(graft.functions.dotProduct(col("embedding"), col("embedding")).as("d"))
        .agg(sum("d")).collect()
      ctx.tracer.note("rows", c.vectors.length)
    }
  }

  def round(index: Int, checks: Checks, timed: Boolean): Unit =
    if (timed) pass(main, checks, timed, index) else warmup()

  /** The pass's stages run concurrently, so their first-use costs
    * overlap; untimed and unchecked. */
  private def warmup(): Unit = {
    val docs = spark.read.parquet(main.docsAt)
    val out = ctx.path("corpus_out/warm")
    Workload.parallel(Seq(
      () => Dedup.exact(docs, "doc_id", "text").collect(),
      () => DataFrameIO.write(docs.join(Dedup.dedupCorpus(docs, "doc_id", "text"), "doc_id"),
        SourceParams("parquet", Some(s"$out/deduped")))(spark),
      () => CorpusOps.repetitionSignals(docs, "doc_id", "text").collect(),
      () => {
        val idx = Similarity.ivfIndexSeeded(spark.read.parquet(main.embAt), "vec_id", "embedding", NList)
        idx.assigned.persist()
        DataFrameIO.write(idx.assigned, SourceParams("parquet", Some(s"$out/ivf")))(spark)
        main.queries.foreach(q => idx.search(q, K, NProbe).collect())
        idx.assigned.unpersist()
      }))
  }

  def endToEnd: Seq[(String, Metric)] = Seq(
    "rows_per_s" -> Metric(docsDone / passWall, "rows/s"),
    "op_p50_s" -> Metric(Stats.median(lat("search")), "s"),
    "write_p50_s" -> Metric(Stats.median(lat("write")), "s"),
    "write_amp" -> Metric(bytesOut.toDouble / bytesIn, "B/B"),
    "recall" -> Metric(found.toDouble / injected, "frac"))

  def samples: Map[String, Int] = Map("searches" -> lat.count("search"), "passes" -> lat.count("write") / 2)
}

object CorpusPrep {
  final class PassResult {
    var exactGroups: Map[Long, Long] = Map.empty
    var survivors: Set[Long] = Set.empty
    var signals: Map[Long, Double] = Map.empty
    val writes = mutable.ArrayBuffer.empty[Double]
    var searches: Seq[(Seq[(Long, Double)], Double)] = Nil
  }

  val BaseDocs = 2000
  val Dim = 32
  val Queries = 12
  val K = 10
  val NList = 16
  val NProbe = 3

  /** Cosine with graft's fold order (dot / (‖a‖·‖b‖), zero norm → 0). */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    def dot(x: Array[Double], y: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }
    val d = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
    if (d == 0.0) 0.0 else dot(a, b) / d
  }
}
