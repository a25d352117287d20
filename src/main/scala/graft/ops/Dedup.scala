package graft.ops

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Ckpt.CkptSyntax

/** Deduplication operators for large-scale corpora (SURVEY.md §7).
  *
  * Scale design: every operator is a pure DataFrame pipeline — one
  * shuffle per logical step, map-side partial aggregation, no driver
  * collects — so each would run unchanged on a 1000-executor cluster.
  * All hashing is md5-derived (see [[graft.functions.TextFunctions.h64]])
  * so each operator has an exact cross-engine oracle.
  */
object Dedup {

  /** Exact dedup: group rows by normalized-text fingerprint, keep the
    * smallest id. Single hash-shuffle with partial aggregation; at 100 TB
    * the shuffle carries only (fingerprint, id) pairs, not text. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(fingerprint(col(textCol)).as("fingerprint"), col(idCol))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup: which rows of `incoming` survive against a
    * CLOSED known corpus — the production shape where yesterday's corpus
    * is represented by its fingerprint INDEX only (`known`: one
    * `fingerprint` column; text never leaves the archive). A row
    * survives iff its fingerprint is absent from `known` AND it is the
    * smallest id among intra-batch copies.
    *
    * Scale shape: one hash-shuffle of (fingerprint, id) for the batch
    * collapse, one left-anti join on fingerprint against the index —
    * both sides ship hex-encoded 128-bit digests (32-char strings) +
    * ids, never text. The index table
    * can be billions of rows; the anti-join shuffles it once on the
    * same key the collapse already used.
    *
    * @return (fingerprint, keep_id, n_copies) for surviving batch rows
    */
  def exactIncremental(incoming: DataFrame, idCol: String, textCol: String,
      known: DataFrame): DataFrame =
    exact(incoming, idCol, textCol)
      .join(known.select(col("fingerprint")), Seq("fingerprint"), "left_anti")

  /** Deterministic 60-bit seeds for the XOR-mix MinHash family,
    * derived from md5 so both engines can embed them as literals. */
  def minhashSeeds(k: Int): Seq[Long] =
    (0 until k).map { i =>
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"graft-minhash-seed-$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15), 16)
    }

  /** MinHash signature: for each seed, min over word-shingle hashes of
    * (h64(shingle) XOR seed). XOR-mixing is not a classically min-wise
    * independent family, but it is deterministic, engine-portable, and
    * effective for LSH banding. Returns array<long> of length k. */
  def minhashSignature(text: Column, k: Int, shingleSize: Int): Column =
    // distinct-shingle hashes via the codegen'd kernel; min over XORs is
    // duplicate-invariant, so signatures equal the non-distinct builtin
    // formulation (and its oracle) exactly. The signature fold is itself
    // a codegen'd kernel ([[graft.functions.MinHashSig]]) — the nested
    // transform/array_min lambdas are interpreted and allocate one array
    // per seed per row
    graft.functions.minhashSig(
      graft.functions.shingleHash64(tokens(text), shingleSize), minhashSeeds(k))

  /** Collapse exact duplicates to one representative per distinct
    * normalized text: (min id, that row's text). This is the guard that
    * keeps every LSH bucket self-join below O(copies²) — a real crawl
    * corpus has million-copy exact-duplicate clusters that land in ONE
    * (band, bucket) and would otherwise emit ~10¹² candidate pairs.
    * One hash-shuffle on the md5 fingerprint; `min_by` keeps the pick
    * deterministic (ids are unique). Cluster membership itself is the
    * [[exact]] operator's output — compose the two to expand pairs back
    * to ids when needed. */
  private[graft] def collapseExactText(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(fingerprint(col(textCol)).as("fp"),
        col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"))
      .select("doc_id", "text")

  /** Drop rows belonging to oversized bucket groups (standard LSH
    * practice): a bucket with more than `maxBucket` *distinct* texts is
    * a degenerate collision (templated boilerplate), and its true
    * near-dups are still found through their other, smaller bands.
    * The window count shuffles on the same keys the candidate join uses,
    * so the exchange is reused — no extra shuffle at scale. */
  /** Tag every banded row with its (key...)-bucket size — one window
    * pass, the narrow key the banding already shuffles on. */
  private def withBucketSize(banded: DataFrame, keys: Seq[String]): DataFrame =
    banded.withColumn("bucket_sz",
      count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))

  private def capBuckets(
      banded: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    withBucketSize(banded, keys)
      .filter(col("bucket_sz") <= maxBucket)
      .drop("bucket_sz")

  /** The over-cap buckets the cap silently dropped: ONE row per capped
    * (key..., bucket_sz) bucket. Empty ⇔ the pigeonhole/banding recall
    * guarantee held exactly on this input. */
  private def droppedBuckets(
      sized: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    sized.filter(col("bucket_sz") > maxBucket)
      .select((keys.map(col) :+ col("bucket_sz")): _*)
      .distinct()

  /** Exact word-shingle Jaccard between two texts. */
  def jaccard(a: Column, b: Column, shingleSize: Int): Column = {
    val sa = array_distinct(wordShingles(a, shingleSize))
    val sb = array_distinct(wordShingles(b, shingleSize))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb)).cast("double")
  }

  /** MinHash-LSH near-duplicate pairs:
    * shingle → minhash signature → band buckets → bucket self-join →
    * exact-Jaccard verification.
    *
    * Physical shape at scale: exact duplicates are collapsed FIRST (see
    * [[collapseExactText]] — the guard against million-copy clusters);
    * explode produces `bands` rows per representative keyed by
    * (band, md5(signature slice)); oversized buckets are dropped
    * ([[capBuckets]]); the self-join shuffles on the bucket key;
    * verification joins shingle sets back by id. No driver-side state.
    *
    * @return columns (id1, id2, jaccard) with id1 < id2, jaccard >= tau;
    *         ids are exact-dup representatives (min id per distinct text)
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 12,
      bands: Int = 3,
      shingleSize: Int = 3,
      tau: Double = 0.6,
      maxBucket: Int = 1000): DataFrame =
    minhashLshPairsFromHashed(
      minhashHashed(df, idCol, textCol, shingleSize), k, bands, tau, maxBucket)

  /** The pairs pipeline over an already-built [[minhashHashed]] table —
    * split out so composed pipelines ([[dedupCorpus]]) hash the corpus
    * ONCE and reuse the checkpoint for banding, verification, and the
    * survivor set. */
  private def minhashLshPairsFromHashed(
      hashed: DataFrame, k: Int, bands: Int,
      tau: Double, maxBucket: Int): DataFrame = {
    val candidates =
      minhashCandidatesFromHashed(hashed, k, bands, maxBucket)

    // Verification reuses the cached distinct-shingle HASH sets (60-bit
    // longs, not the shingle strings): the two verification joins
    // shuffle ~5× fewer bytes, and set arithmetic runs on integers.
    // The same md5-derived hashing runs in the oracle, so values match
    // exactly (a hash collision would collapse identically there too).
    val sets = hashed.select(col("doc_id"), col("hashes"))
    candidates
      .join(sets.select(col("doc_id").as("id1"), col("hashes").as("h1")), Seq("id1"))
      .join(sets.select(col("doc_id").as("id2"), col("hashes").as("h2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("h1"), col("h2"))).cast("double") /
          size(array_union(col("h1"), col("h2"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** Candidate pairs only (collapse → sign → band → cap → self-join),
    * exposed so specs can assert the candidate count stays O(cluster)
    * — not O(cluster²) — under a pathological exact-dup cluster. */
  private[graft] def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int,
      shingleSize: Int,
      maxBucket: Int): DataFrame =
    minhashCandidatesFromHashed(
      minhashHashed(df, idCol, textCol, shingleSize), k, bands, maxBucket)

  /** Stage 1 — collapse exact dups, then tokenize → shingle → hash each
    * DISTINCT shingle in ONE codegen'd kernel per row
    * ([[graft.functions.ShingleHash64]]), materialized once behind a
    * [[Ckpt]] barrier (eager — see Ckpt's scaladoc for why a pending
    * lazy checkpoint can deadlock against a broadcast build).
    * The barrier stops Catalyst from re-inlining the
    * kernel into every downstream consumer (k seed folds × banding × two
    * verification joins — the difference between minutes and seconds at
    * sf0.1 and between feasible and not at 100 TB); the checkpoint holds
    * only (id, array<long>), no shingle strings. localCheckpoint rather
    * than persist: a persisted Dataset is pinned by the CacheManager
    * until an explicit unpersist nobody can issue (the action happens in
    * the caller), while checkpoint blocks are freed by the
    * ContextCleaner as soon as the result is unreachable. */
  private def minhashHashed(
      df: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame =
    collapseExactText(df, idCol, textCol)
      .select(col("doc_id"),
        graft.functions.shingleHash64(tokens(col("text")), shingleSize).as("hashes"))
      .ckpt

  /** (doc_id, band, bucket) band keys of a [[minhashHashed]] table —
    * signatures are one codegen'd k×n primitive loop over the cached
    * arrays (MinHashSig kernel), bucket = md5 of the signature slice. */
  private def bandedKeys(hashed: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val r = k / bands
    val withSig = hashed.select(col("doc_id"),
      graft.functions.minhashSig(col("hashes"), minhashSeeds(k)).as("sig"))
    withSig.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws("|", transform(slice(col("sig"), b * r + 1, lit(r)),
          x => x.cast("string")))))).as(Seq("band", "bucket")))
  }

  private def minhashCandidatesFromHashed(
      hashed: DataFrame, k: Int, bands: Int, maxBucket: Int): DataFrame = {
    val banded = capBuckets(bandedKeys(hashed, k, bands),
      Seq("band", "bucket"), maxBucket)

    val l = banded.select(col("band"), col("bucket"), col("doc_id").as("id1"))
    val rgt = banded.select(col("band"), col("bucket"), col("doc_id").as("id2"))
    l.join(rgt, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Static near-dup admission index over a CLOSED corpus — the three
    * tables a production pipeline computes once, persists, and probes
    * with every incoming batch: exact-text fingerprints, LSH band
    * buckets, and distinct-shingle hash sets. Corpus TEXT is not part
    * of the index (verification runs on the 60-bit hash sets), so the
    * index is a small fraction of corpus bytes and all three tables
    * shuffle/merge incrementally (fingerprints and bands union;
    * hash sets append).
    *
    * Oversized corpus buckets (> maxBucket distinct texts — templated
    * boilerplate) are dropped at build time, the same high-recall cap
    * as [[minhashLshPairs]]. */
  final case class NearDupIndex(
      fingerprints: DataFrame, // (fingerprint)
      bands: DataFrame,        // (band, bucket, doc_id)
      hashes: DataFrame,       // (doc_id, hashes: array<long>)
      k: Int,
      nBands: Int,
      shingleSize: Int)

  object NearDupIndex {

    /** Persist an index through the generic sink (K1): three parquet
      * tables plus a one-row params table pinning (k, bands,
      * shingleSize) — the signature half of the index, without which a
      * reload could silently band with different parameters and miss
      * every duplicate. Overwrite mode makes re-publication idempotent
      * (the index for day N is rebuilt-or-extended and re-published
      * atomically per table). */
    def save(idx: NearDupIndex, path: String)(implicit spark: SparkSession): Unit = {
      // pinned before the overwrite: the admission loop saves an index
      // derived from load(path) (extend) back to the SAME path, and an
      // overwrite that still lazily reads its own target deletes the
      // files mid-scan — the barrier severs that read. Ckpt.forced, not
      // pinned: a correctness pin, exempt from the eager-conf opt-out
      // pin only when the table's plan actually reads under the index
      // root (in-place re-publication); fresh builds and versioned
      // publishes skip the materialization entirely
      def w(df: DataFrame, sub: String): Unit =
        graft.io.DataFrameIO.write(Ckpt.pinnedIfReadsFrom(df, path),
          graft.io.SourceParams(
            "parquet", Some(s"$path/$sub"), saveMode = Some("overwrite")))
      w(idx.fingerprints, "fingerprints")
      w(idx.bands, "bands")
      w(idx.hashes, "hashes")
      import spark.implicits._
      w(Seq((idx.k, idx.nBands, idx.shingleSize))
        .toDF("k", "bands", "shingle_size"), "params")
    }

    /** Reload a [[save]]d index — the cross-job half of incremental
      * admission: yesterday's corpus is represented on disk by its
      * index tables, today's batch probes them via [[nearDupFilter]]
      * at O(batch) cost without the corpus ever being re-read. */
    def load(path: String)(implicit spark: SparkSession): NearDupIndex = {
      def r(sub: String): DataFrame = graft.io.DataFrameIO.load(
        graft.io.SourceParams("parquet", Some(s"$path/$sub")))
      val params = r("params").head()
      NearDupIndex(r("fingerprints"), r("bands"), r("hashes"),
        k = params.getAs[Int]("k"),
        nBands = params.getAs[Int]("bands"),
        shingleSize = params.getAs[Int]("shingle_size"))
    }

    /** Grow an index with newly ADMITTED rows — the third leg of the
      * cross-job admission loop (build → filter batch → EXTEND → save):
      * the index absorbs each day's survivors at O(batch) cost, so the
      * corpus is never re-indexed. `admitted` must be the output of a
      * [[nearDupFilter]] pass (intra-batch collapsed, verified fresh) —
      * exactly what that function returns.
      *
      * Fingerprints and shingle-hash sets union outright. Band rows for
      * the batch are computed with the index's own (k, bands,
      * shingleSize) and appended under a REMAINING-CAPACITY cap:
      * existing members are never evicted, and a (band, bucket) group
      * only admits new rows (in doc_id order, deterministically) while
      * its combined size stays ≤ maxBucket — so index growth degrades
      * exactly like the build path: high-recall, bounded buckets. On
      * cap-cold data the extended index is IDENTICAL to
      * `nearDupIndex(corpus ∪ admitted)` (spec-proven). */
    def extend(
        idx: NearDupIndex,
        admitted: DataFrame,
        idCol: String,
        textCol: String,
        maxBucket: Int = 1000): NearDupIndex = {
      val batch = admitted.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"))
      val fps = idx.fingerprints
        .unionAll(batch.select(fingerprint(col("text")).as("fingerprint")))
        .distinct()
      val hashed = batch.select(col("doc_id"),
          graft.functions.shingleHash64(tokens(col("text")), idx.shingleSize)
            .as("hashes"))
        .ckpt // banding + the stored hash table
      val existingSz = idx.bands.groupBy("band", "bucket")
        .agg(count(lit(1)).as("graft_old_sz"))
      val admittedBands = bandedKeys(hashed, idx.k, idx.nBands)
        .withColumn("graft_rk", row_number().over(
          Window.partitionBy("band", "bucket").orderBy("doc_id")))
        .join(existingSz, Seq("band", "bucket"), "left")
        .filter(col("graft_rk") + coalesce(col("graft_old_sz"), lit(0L)) <= maxBucket)
        .select("doc_id", "band", "bucket")
      NearDupIndex(fps, idx.bands.unionAll(admittedBands),
        idx.hashes.unionAll(hashed), idx.k, idx.nBands, idx.shingleSize)
    }

    /** Versioned publish for the text index — the [[graft.ops.Versions]]
      * discipline over [[save]]: immutable v<N> images, atomic pointer
      * flip, time travel, vacuum. A pinned admission worker keeps a
      * consistent index snapshot while the daily extend/takedown cycle
      * publishes around it. */
    def publish(idx: NearDupIndex, path: String)(
        implicit spark: SparkSession): Int =
      Versions.publish(path, dir => save(idx, dir))

    def loadVersion(path: String, version: Int)(
        implicit spark: SparkSession): NearDupIndex =
      load(Versions.versionDir(path, version))

    def loadCurrent(path: String)(implicit spark: SparkSession): NearDupIndex =
      loadVersion(path, Versions.current(path))

    /** Forget documents — the takedown/right-to-be-forgotten leg of the
      * index lifecycle (the text-side sibling of
      * [[graft.ops.Similarity.IvfIndex.remove]]): after removal the
      * content is ADMISSIBLE again — exact copies stop matching the
      * fingerprint table and near-dups stop finding LSH candidates.
      * All three tables shrink by anti-join: band and hash rows by
      * doc id, fingerprints by the removed texts' fingerprints — each
      * O(index) with the removed side broadcast, never a corpus pass.
      *
      * `removed` must carry the documents' (id, text) pairs and be
      * CLOSED under exact-duplicate groups: the build collapsed exact
      * dups to their min-id representative, so a text's fingerprint can
      * only be dropped when every carrier of that text is removed (the
      * natural takedown unit — removing one copy of a text while
      * keeping another would either leak the kept copy's admissibility
      * or forget content that is still in the corpus). Under that
      * precondition the result equals `nearDupIndex(corpus ∖ removed)`
      * on cap-cold data (spec-proven): surviving groups keep their
      * original representatives, so band/hash rows match the rebuild
      * row-for-row. (Cap-warm divergence mirrors [[extend]]: a bucket
      * the full-corpus build dropped stays dropped even if removal
      * brings it under `maxBucket` — high-recall either way.) */
    def remove(
        idx: NearDupIndex,
        removed: DataFrame,
        idCol: String,
        textCol: String): NearDupIndex = {
      val rIds = removed
        .select(col(idCol).cast("long").as("doc_id")).distinct()
      val rFps = removed
        .select(fingerprint(col(textCol)).as("fingerprint")).distinct()
      NearDupIndex(
        idx.fingerprints.join(rFps, Seq("fingerprint"), "left_anti"),
        idx.bands.join(rIds, Seq("doc_id"), "left_anti"),
        idx.hashes.join(rIds, Seq("doc_id"), "left_anti"),
        idx.k, idx.nBands, idx.shingleSize)
    }
  }

  /** Build a [[NearDupIndex]] from a corpus. One collapse shuffle + one
    * banding pass; every output is a plain DataFrame the caller can
    * persist (parquet) and reload for each batch. */
  def nearDupIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 12,
      bands: Int = 3,
      shingleSize: Int = 3,
      maxBucket: Int = 1000): NearDupIndex = {
    val fps = corpus.select(fingerprint(col(textCol)).as("fingerprint")).distinct()
    val hashed = minhashHashed(corpus, idCol, textCol, shingleSize)
    val banded = capBuckets(bandedKeys(hashed, k, bands),
      Seq("band", "bucket"), maxBucket)
    NearDupIndex(fps, banded, hashed, k, bands, shingleSize)
  }

  /** Incremental near-dup ADMISSION: which rows of `incoming` enter the
    * corpus, given only its [[NearDupIndex]] — the production shape
    * where yesterday's 100 TB corpus is represented by its index and
    * each day's batch is filtered at O(batch · bands) cost, never
    * O(corpus).
    *
    * A batch row survives iff (1) it is the min-id representative of
    * its intra-batch exact-duplicate group, (2) its fingerprint is
    * absent from the index (no exact corpus copy), and (3) no corpus
    * doc sharing an LSH band bucket verifies at shingle-hash Jaccard
    * >= tau. Stages mirror [[minhashLshPairs]] — collapse, band, cap,
    * bucket join, hash-set verification — except the candidate join
    * probes the STATIC index buckets instead of self-joining, so the
    * corpus side ships only (band, bucket, id) rows for buckets the
    * batch actually touches.
    *
    * Intra-batch NEAR-dups (distinct texts) are out of scope here —
    * run the admitted set through [[minhashLshPairs]] /
    * [[dedupCorpus]] for that; admission against the corpus and
    * intra-batch near-dedup compose cleanly because admission never
    * changes a surviving row.
    *
    * @return surviving (doc_id, text) batch representatives
    */
  def nearDupFilter(
      index: NearDupIndex,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      tau: Double,
      maxBucket: Int = 1000): DataFrame = {
    // (1) collapse intra-batch exact dups, (2) drop exact corpus hits;
    // the survivors feed BOTH the banding pipeline and the final
    // anti-join, so materialize them once
    val fresh = collapseExactText(incoming, idCol, textCol)
      .withColumn("fingerprint", fingerprint(col("text")))
      .join(index.fingerprints, Seq("fingerprint"), "left_anti")
      .drop("fingerprint")
      .ckpt

    val hashed = fresh.select(col("doc_id"),
        graft.functions.shingleHash64(tokens(col("text")), index.shingleSize)
          .as("hashes"))
      .ckpt
    val banded = capBuckets(bandedKeys(hashed, index.k, index.nBands),
      Seq("band", "bucket"), maxBucket)

    // (3) candidates against the index buckets, verified on hash sets
    val cands = banded
      .join(index.bands.select(col("band"), col("bucket"),
        col("doc_id").as("corpus_id")), Seq("band", "bucket"))
      .select(col("doc_id"), col("corpus_id")).distinct()
    val dupIds = cands
      .join(hashed.select(col("doc_id"), col("hashes").as("h1")), Seq("doc_id"))
      .join(index.hashes.select(col("doc_id").as("corpus_id"),
        col("hashes").as("h2")), Seq("corpus_id"))
      .filter(
        size(array_intersect(col("h1"), col("h2"))).cast("double") /
          size(array_union(col("h1"), col("h2"))).cast("double") >= tau)
      .select("doc_id").distinct()

    fresh.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** All-pairs exact n-gram Jaccard within a blocking column (for bounded
    * block sizes; the LSH path above is the unblocked scale path).
    *
    * Each document's DISTINCT shingle set is hashed ONCE by the
    * codegen'd [[graft.functions.ShingleHash64]] kernel behind a
    * checkpoint barrier, and pairs compare 60-bit integer sets — NOT
    * re-tokenized text. The naive formulation ([[jaccard]] applied per
    * pair) re-evaluates the interpreted shingle lambdas 2× per
    * CANDIDATE, turning O(n·len) work into O(n²·len): at sf0.1 that is
    * the difference between ~1 s and ~2 min for the same answer. Values
    * are identical (the hash runs identically in the oracle, so even a
    * collision collapses the same way on both sides). */
  def jaccardPairsBlocked(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      shingleSize: Int = 3,
      tau: Double = 0.5): DataFrame = {
    val hashed = df.select(col(blockCol).as("block"), col(idCol).as("id"),
        graft.functions.shingleHash64(tokens(col(textCol)), shingleSize).as("h"))
      .ckpt // hash once per doc, not once per pair side
    val a = hashed.select(col("block"), col("id").as("id1"), col("h").as("h1"))
    val b = hashed.select(col("block"), col("id").as("id2"), col("h").as("h2"))
    a.join(b, Seq("block"))
      .filter(col("id1") < col("id2"))
      .select(col("block"), col("id1"), col("id2"),
        (size(array_intersect(col("h1"), col("h2"))).cast("double") /
          size(array_union(col("h1"), col("h2"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** SimHash near-dup pairs: 60-bit simhash, banded into `chunks` bit
    * ranges (pigeonhole: hamming <= chunks-1 implies >= 1 equal chunk),
    * candidates verified by exact hamming distance. Exact duplicates are
    * collapsed first and oversized (chunk, key) buckets dropped — same
    * scale guards as [[minhashLshPairs]] (15-bit chunk keys collide
    * broadly on templated text). Ids in the output are exact-dup
    * representatives; hamming-0 pairs between DISTINCT texts are kept. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    simhashCandidates(df, idCol, textCol, maxHamming, maxBucket)
      .filter(col("hamming") <= maxHamming)

  /** [[simhashPairs]] plus cap observability — same audit contract as
    * [[hammingPairs64Audited]]: the second DataFrame holds one row per
    * over-cap (chunk, key, bucket_sz) bucket the cap dropped. */
  def simhashPairsAudited(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): (DataFrame, DataFrame) = {
    val (cands, dropped) =
      simhashCandidatesBanded(df, idCol, textCol, maxHamming, maxBucket,
        audited = true)
    (cands.filter(col("hamming") <= maxHamming), dropped)
  }

  /** Candidate pairs with exact hamming, pre-threshold (spec hook). */
  private[graft] def simhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      maxBucket: Int): DataFrame =
    simhashCandidatesBanded(df, idCol, textCol, maxHamming, maxBucket,
      audited = false)._1

  private def simhashCandidatesBanded(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      maxBucket: Int,
      audited: Boolean): (DataFrame, DataFrame) = {
    val chunks = maxHamming + 1 // pigeonhole guarantee
    val bitsPer = 60 / chunks
    val sim = collapseExactText(df, idCol, textCol)
      .select(col("doc_id"), graft.functions.simhash60(tokens(col("text"))).as("sim"))

    val chunkKeys = (0 until chunks).map(c =>
      shiftright(col("sim"), c * bitsPer).bitwiseAND(lit((1L << bitsPer) - 1)))
    val sized0 = withBucketSize(
      sim.select(col("doc_id"), col("sim"),
        posexplode(array(chunkKeys: _*)).as(Seq("chunk", "key"))),
      Seq("chunk", "key"))
    // see hammingPairs64Banded on the audited-only checkpoint
    val sized = if (audited) sized0.ckpt else sized0
    val banded = sized.filter(col("bucket_sz") <= maxBucket).drop("bucket_sz")

    val l = banded.select(col("chunk"), col("key"), col("doc_id").as("id1"), col("sim").as("sim1"))
    val r = banded.select(col("chunk"), col("key"), col("doc_id").as("id2"), col("sim").as("sim2"))
    val cands = l.join(r, Seq("chunk", "key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("sim1").bitwiseXOR(col("sim2"))).as("hamming"))
      .distinct()
    (cands, droppedBuckets(sized, Seq("chunk", "key"), maxBucket))
  }

  /** EXACT all-pairs similarity join via prefix filtering (Bayardo,
    * Ma & Srikant, WWW'07 "Scaling Up All Pairs Similarity Search",
    * public) — the deterministic complement to the probabilistic LSH
    * family: finds EVERY pair with shingle-set Jaccard ≥ tau, no
    * recall loss, no blocking column.
    *
    * The filter: order every document's distinct shingle hashes by one
    * GLOBAL rarity order (frequency, then hash); two sets with
    * J ≥ tau must share at least one element among each set's first
    * `|x| − ⌈tau·|x|⌉ + 1` elements under that order, so only prefix
    * elements are indexed. Prefixes are each document's RAREST
    * shingles, so the candidate equi-join on the shingle key touches
    * few documents per key — the quadratic blowup lives exactly in the
    * frequent keys the prefix excludes. Like every pairs operator here,
    * EXACT duplicates must be collapsed to one representative first
    * ([[collapseExactText]]): an n-copy duplicate cluster shares its
    * whole prefix and self-joins O(n²) regardless of the rarity order.
    *
    * Physical shape: one explode to (id, hash), a frequency aggregate,
    * a per-doc window for the rarity ranks (narrow key: id), the
    * candidate self-join on prefix hashes, and integer hash-set
    * verification — candidates and verification shuffle ids and 60-bit
    * hashes only, never text. */
  def allPairsJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      tau: Double = 0.6): DataFrame = {
    // no Skew.spreadNarrowInput here: on d33 (sf0.1, local[32] on 4
    // vCPUs) its extra shuffle cost more than the wider hashing stage saved
    val sets = df
      .select(col(idCol).cast("long").as("doc_id"),
        graft.functions.shingleHash64(tokens(col(textCol)), shingleSize).as("hashes"))
      .ckpt // prefix build + verification joins
    val toks = sets.select(col("doc_id"), explode(col("hashes")).as("h"))
    val freq = toks.groupBy("h").agg(count(lit(1)).as("f"))
    val w = Window.partitionBy("doc_id").orderBy(col("f"), col("h"))
    val prefix = toks.join(freq, Seq("h"))
      .withColumn("ord", row_number().over(w))
      .withColumn("len", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("ord") <= col("len") - ceil(col("len") * tau) + 1)
      .select(col("h"), col("doc_id"))
    val cands = prefix.as("a")
      .join(prefix.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    cands
      .join(sets.select(col("doc_id").as("id1"), col("hashes").as("h1")), Seq("id1"))
      .join(sets.select(col("doc_id").as("id2"), col("hashes").as("h2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("h1"), col("h2"))).cast("double") /
          size(array_union(col("h1"), col("h2"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** EXACT all-pairs CONTAINMENT join: every DIRECTED pair (id1, id2,
    * id1 ≠ id2) with C(1→2) = |S1 ∩ S2| / |S1| ≥ tau over distinct
    * shingle-hash sets — the asymmetric complement to
    * [[allPairsJaccard]]. Jaccard is blind to subset relations (a short
    * excerpt inside a long document scores near |S1|/|S2| ≈ 0), but
    * containment is exactly what catches quotes, boilerplate inclusions
    * and truncated re-posts in a training corpus.
    *
    * Prefix bound (containment variant of Bayardo WWW'07): a probe set
    * S1 contained ≥ tau in ANY S2 must match at least ⌈tau·|S1|⌉ of its
    * own elements, so at least one of its first
    * `|S1| − ⌈tau·|S1|⌉ + 1` elements under a global rarity order is
    * shared. The CONTAINING side is unconstrained (any superset
    * qualifies), so it cannot be prefix-pruned: candidates come from
    * (probe prefix) ⋈ (capped inverted index) — the standard
    * containment-join shape. The index side is the corpus's (id,
    * shingle) postings MINUS keys hotter than `maxPosting` docs: a
    * duplicate-heavy corpus makes every shared shingle's posting list
    * O(copies), and an uncapped prefix⋈index join then degrades
    * O(copies²) in those keys — the one quadratic cliff the other
    * pairs operators already guard with [[capBuckets]]. The cap bounds
    * each join key's fan-out at |prefix_h| × maxPosting.
    *
    * RECALL BOUND (mirrors [[hammingPairs64]]): a capped key loses the
    * true pairs whose ONLY prefix-shared shingle it was, so at scale
    * the result is a high-recall approximation; the dropped keys are
    * observable via [[containmentPairsAudited]] — an empty audit
    * certifies the capped result is exact on this input. Collapse
    * exact duplicates first ([[collapseExactText]]) and the cap stays
    * cold, or pass `maxPosting = Int.MaxValue` to recover the exact
    * join at the price of unbounded hot keys.
    *
    * Physical shape: one explode, one frequency aggregate, a per-doc
    * rarity window (narrow key: id), the prefix⋈index equi-join on the
    * shingle hash, and integer hash-set verification — candidate and
    * verify shuffles carry ids and 60-bit hashes only, never text. The
    * cap reuses the frequency aggregate the rarity order already
    * needs, so it costs no extra pass. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      tau: Double = 0.8,
      maxPosting: Int = 1000): DataFrame =
    containmentPairsAudited(df, idCol, textCol, shingleSize, tau,
      maxPosting)._1

  /** [[containmentPairs]] plus cap OBSERVABILITY: also returns the
    * (h, posting_sz) keys the `maxPosting` cap dropped from the index
    * side, so the RECALL BOUND is measurable at runtime instead of
    * silent — the same audit contract as [[hammingPairs64Audited]] /
    * [[simhashPairsAudited]]. The audit is one filter over the
    * frequency aggregate the join already computes — lazy; count or
    * collect it after/while consuming the pairs. */
  def containmentPairsAudited(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      tau: Double = 0.8,
      maxPosting: Int = 1000): (DataFrame, DataFrame) = {
    // (no narrow-input spread here: measured on the d42 shape, the
    // shingle stage is too small to pay for the extra exchange — the
    // spread is for explode-heavy kernels like frequentNgrams)
    val sets = df.select(col(idCol).cast("long").as("doc_id"),
        graft.functions.shingleHash64(tokens(col(textCol)), shingleSize).as("hashes"))
      .ckpt // prefix build + verification joins
    val toks = sets.select(col("doc_id"), explode(col("hashes")).as("h"))
    val freq = toks.groupBy("h").agg(count(lit(1)).as("f"))
    val w = Window.partitionBy("doc_id").orderBy(col("f"), col("h"))
    val prefix = toks.join(freq, Seq("h"))
      .withColumn("ord", row_number().over(w))
      .withColumn("len", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("ord") <= col("len") - ceil(col("len") * tau) + 1)
      .select(col("h"), col("doc_id"))
    // index-side cap: only postings of keys ≤ maxPosting docs join;
    // the probe prefix needs no filter — a capped key simply finds no
    // index rows, so its fan-out is zero
    val index = toks.join(freq.filter(col("f") <= maxPosting).select("h"), Seq("h"))
    val cands = prefix.as("a")
      .join(index.as("b"), col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val pairs = cands
      .join(sets.select(col("doc_id").as("id1"), col("hashes").as("h1")), Seq("id1"))
      .join(sets.select(col("doc_id").as("id2"), col("hashes").as("h2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        (size(array_intersect(col("h1"), col("h2"))).cast("double") /
          size(col("h1")).cast("double")).as("containment"))
      .filter(col("containment") >= tau)
    (pairs, freq.filter(col("f") > maxPosting)
      .select(col("h"), col("f").as("posting_sz")))
  }

  /** Near-duplicate pairs over any 64-bit perceptual hash column
    * (simhash, image dHash, audio chromaprint-style keys): pigeonhole
    * banding into `maxHamming + 1` bit chunks — hamming ≤ maxHamming
    * guarantees at least one equal chunk — then exact hamming
    * verification on the candidates. The same scale guards as
    * [[simhashPairs]]: oversized (chunk, key) buckets are dropped, and
    * byte-identical payloads should be collapsed to one representative
    * BEFORE hashing (an exact-dedup pass on a payload fingerprint), or
    * a million-copy asset cluster self-joins O(copies²) in its bucket.
    *
    * RECALL BOUND: the pigeonhole guarantee (hamming ≤ maxHamming ⇒ ≥ 1
    * equal chunk ⇒ pair surfaces) holds ONLY while every (chunk, key)
    * bucket stays ≤ `maxBucket`. A capped bucket silently loses the true
    * pairs whose ONLY shared chunk it was — so at scale the result is a
    * high-recall approximation, not brute-force-equal. Size `maxBucket`
    * above the largest expected near-dup cluster (post exact-collapse),
    * or pass Int.MaxValue to recover the exact guarantee at the price of
    * unbounded bucket joins.
    *
    * @return (id1, id2, hamming) with id1 < id2, hamming <= maxHamming
    */
  def hammingPairs64(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    hammingPairs64Banded(df, idCol, hashCol, maxHamming, maxBucket,
      audited = false)._1

  /** [[hammingPairs64]] plus cap OBSERVABILITY: also returns the
    * over-cap (chunk, key, bucket_sz) buckets the cap dropped, so the
    * RECALL BOUND above is measurable at runtime instead of silent —
    * an empty audit table certifies the banded result equals brute
    * force on this input; a non-empty one quantifies exactly which
    * buckets (and how many candidate rows) the approximation lost.
    * The sized banding table is checkpointed and shared, so the audit
    * costs one tiny aggregate over it, not a second banding pass.
    *
    * @return (pairs as in [[hammingPairs64]],
    *          dropped buckets (chunk, key, bucket_sz) — lazy, count it
    *          or collect it after/while consuming the pairs)
    */
  def hammingPairs64Audited(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): (DataFrame, DataFrame) =
    hammingPairs64Banded(df, idCol, hashCol, maxHamming, maxBucket,
      audited = true)

  private def hammingPairs64Banded(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      maxBucket: Int,
      audited: Boolean): (DataFrame, DataFrame) = {
    val chunks = maxHamming + 1 // pigeonhole guarantee
    require(64 % chunks == 0,
      s"maxHamming + 1 = $chunks must divide 64 (got maxHamming = $maxHamming)")
    val bitsPer = 64 / chunks
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    val src = df.select(col(idCol).cast("long").as("doc_id"),
      col(hashCol).cast("long").as("ph"))
    val chunkKeys = (0 until chunks).map(c =>
      shiftright(col("ph"), c * bitsPer).bitwiseAND(lit(mask)))
    val sized0 = withBucketSize(
      src.select(col("doc_id"), col("ph"),
        posexplode(array(chunkKeys: _*)).as(Seq("chunk", "key"))),
      Seq("chunk", "key"))
    // audited: the sized table feeds both the pairs join AND the audit
    // aggregate — checkpoint so the banding window runs once, not per
    // consumer (unaudited keeps the current single-consumer plan as is)
    val sized = if (audited) sized0.ckpt else sized0
    val banded = sized.filter(col("bucket_sz") <= maxBucket).drop("bucket_sz")
    val l = banded.select(col("chunk"), col("key"), col("doc_id").as("id1"), col("ph").as("ph1"))
    val r = banded.select(col("chunk"), col("key"), col("doc_id").as("id2"), col("ph").as("ph2"))
    val pairs = l.join(r, Seq("chunk", "key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("ph1").bitwiseXOR(col("ph2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    (pairs, droppedBuckets(sized, Seq("chunk", "key"), maxBucket))
  }

  /** Cross-set Hamming ADMISSION filter — the perceptual-hash analogue
    * of [[nearDupFilter]]: keep each incoming (id, hash) row iff its
    * 64-bit hash is NOT within `maxHamming` of ANY hash in the frozen
    * `index` table (yesterday's corpus as its dHash/audio-hash rows).
    * Both sides band under [[hammingPairs64]]'s pigeonhole chunk
    * scheme, so an incoming hash meets only index hashes sharing at
    * least one of the maxHamming+1 chunk keys — which every hash
    * within maxHamming MUST share; recall of rejections is exact
    * except through the index-side bucket cap (a >maxBucket corpus
    * chunk bucket is dropped, admitting rather than scanning a
    * template flood — the same high-recall posture as the LSH caps;
    * exact-hash hits are unaffected in practice because identical
    * hashes share all chunks and a fingerprint pass upstream catches
    * byte-identical payloads anyway). Admission is a pure function of
    * (hash, static index), so a streaming caller is batch-boundary-
    * invariant by construction; intra-batch duplicates are the
    * caller's pre-collapse contract, exactly as in [[nearDupFilter]]
    * compositions (s25/s36).
    *
    * Scale shape: one equi-join on (chunk, key) — ids and 8-byte
    * hashes shuffle, payloads never; candidates are bounded by
    * (maxHamming+1)·maxBucket per incoming row.
    *
    * @param index frozen corpus hashes (any (idCol, hashCol) frame)
    * @return the admitted subset of `incoming`, original columns
    */
  def hammingFilter64(
      index: DataFrame,
      incoming: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val chunks = maxHamming + 1
    require(64 % chunks == 0,
      s"maxHamming + 1 = $chunks must divide 64 (got maxHamming = $maxHamming)")
    val bitsPer = 64 / chunks
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    // the rejection set is keyed on the ORIGINAL id column, untouched —
    // a numeric cast would turn string ids into nulls and the anti-join
    // below would then silently admit every near-duplicate
    def chunked(df: DataFrame, id: String, h: String): DataFrame = {
      // keys address the RENAMED hash column — the projection below has
      // already dropped the caller's column names
      val keys = (0 until chunks).map(c =>
        shiftright(col("ph"), c * bitsPer).bitwiseAND(lit(mask)))
      df.select(col(id).as("doc_id"), col(h).cast("long").as("ph"))
        .select(col("doc_id"), col("ph"),
          posexplode(array(keys: _*)).as(Seq("chunk", "key")))
    }
    val idxBanded = capBuckets(chunked(index, idCol, hashCol),
      Seq("chunk", "key"), maxBucket)
      .select(col("chunk"), col("key"), col("ph").as("corpus_ph"))
    val rejected = chunked(incoming, idCol, hashCol)
      .join(idxBanded, Seq("chunk", "key"))
      .filter(bit_count(col("ph").bitwiseXOR(col("corpus_ph"))) <= maxHamming)
      .select("doc_id").distinct()
    incoming.join(rejected.withColumnRenamed("doc_id", idCol),
      Seq(idCol), "left_anti")
  }

  /** Embedding near-dup pairs at scale: hyperplane-LSH bucket join →
    * exact cosine verification. Unlike [[embeddingCosinePairs]] this
    * needs no pre-existing blocking column: buckets come from `bits`
    * signed random projections, so the candidate join touches only
    * colliding vectors (near-identical vectors collide with probability
    * ≈ (1 - θ/π)^bits). */
  def embeddingLshPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      bits: Int = 12,
      tau: Double = 0.95,
      maxBucket: Int = 1000): DataFrame =
    embeddingLshPairsFromCollapsed(
      collapseVectors(df, idCol, vecCol), dim, bits, tau, maxBucket)

  /** Bit-identical-vector collapse to one (min-id) representative per
    * distinct vector — the embedding analogue of [[collapseExactText]]:
    * re-encoded copies of one document share a vector and would
    * otherwise self-join O(copies²) in their LSH bucket. Split out so
    * compositions (the e11 semantic-dedup gate) run the full-width
    * vector shuffle ONCE and reuse it for both the pairs pipeline and
    * the survivor base. */
  private[graft] def collapseVectors(
      df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .groupBy("v").agg(min(col("id")).as("id"))

  /** The pairs pipeline over an already-collapsed (id, v) table. */
  private[graft] def embeddingLshPairsFromCollapsed(
      distinctVecs: DataFrame,
      dim: Int,
      bits: Int,
      tau: Double,
      maxBucket: Int): DataFrame = {
    // localCheckpoint, not persist: serves the two sides of the bucket
    // self-join without pinning cache blocks past the caller's action
    // (see minhashHashed)
    val bucketed = capBuckets(
      Similarity.hyperplaneBuckets(distinctVecs, "id", "v", bits, dim)
        .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v")))),
      Seq("bucket"), maxBucket)
      .ckpt
    val a = bucketed.select(col("bucket"), col("id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val b = bucketed.select(col("bucket"), col("id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        when(col("n1") * col("n2") === 0.0, lit(0.0))
          .otherwise(Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
          .as("cos"))
      .filter(col("cos") >= tau)
      .distinct()
  }

  /** Corpus side of the streaming VECTOR admission filter — one
    * hyperplane-bucket + norm pass over the (collapsed) corpus,
    * bucket-capped like [[embeddingLshPairsFromCollapsed]]. Compute
    * once, freeze (checkpoint/persist), and probe per micro-batch with
    * [[vectorNearDupFilter]]; at 100 TB the bucketed corpus is the
    * thing you'd persist bucket-partitioned so each batch's equi-join
    * touches only colliding buckets. */
  def vectorNearDupIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, bits: Int = 6, maxBucket: Int = 1000): DataFrame =
    capBuckets(
      Similarity.hyperplaneBuckets(
        collapseVectors(corpus, idCol, vecCol), "id", "v", bits, dim)
        .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v")))),
      Seq("bucket"), maxBucket)

  /** Cross-session lifecycle for the [[vectorNearDupIndex]] admission
    * table — the vector-LSH sibling of [[NearDupIndex]]'s save / load /
    * extend / remove and of the IVF family's e28/e30 cycle: the
    * embedding front door (s29/s31) probes a FROZEN index, and this
    * object lets that index live on disk between sessions and absorb
    * admissions/takedowns at O(batch), never a corpus re-index. The
    * hyperplane panel is a pure function of (bits, dim)
    * ([[graft.ops.Similarity.planes]]), so persisting those two ints
    * is enough to band any future batch identically — banding with
    * the WRONG geometry would silently miss every duplicate, hence
    * the params table and the self-describing [[load]]. */
  final case class VectorIndexHandle(buckets: DataFrame, dim: Int, bits: Int)

  object VectorNearDupIndex {

    /** Persist the bucket table (partitioned by `bucket`, so a probe's
      * touched buckets prune at the file level) plus a one-row
      * (dim, bits) params table. Ckpt.forced before the overwrite: the
      * maintenance loop re-publishes an index derived from load(path)
      * back to the same path (read-your-own-overwrite). */
    def save(index: DataFrame, dim: Int, bits: Int, path: String)(
        implicit spark: SparkSession): Unit = {
      import spark.implicits._
      graft.io.DataFrameIO.write(Ckpt.pinnedIfReadsFrom(index, path),
        graft.io.SourceParams("parquet", Some(s"$path/buckets"),
          saveMode = Some("overwrite"), partitionBy = Seq("bucket")))
      graft.io.DataFrameIO.write(Seq((dim, bits)).toDF("dim", "bits"),
        graft.io.SourceParams("parquet", Some(s"$path/params"),
          saveMode = Some("overwrite")))
    }

    /** Reload a [[save]]d index. `bucket` comes back as the partition
      * column (re-cast to long — directory-name inference would
      * otherwise narrow it to int); `nrm` round-trips as a stored
      * double, so every loaded cosine is bit-identical. */
    def load(path: String)(implicit spark: SparkSession): VectorIndexHandle = {
      def r(sub: String): DataFrame = graft.io.DataFrameIO.load(
        graft.io.SourceParams("parquet", Some(s"$path/$sub")))
      val p = r("params").head()
      VectorIndexHandle(
        r("buckets").withColumn("bucket", col("bucket").cast("long"))
          .select("id", "v", "bucket", "nrm"),
        dim = p.getAs[Int]("dim"), bits = p.getAs[Int]("bits"))
    }

    /** Grow the index with newly ADMITTED vectors (the output of a
      * [[vectorNearDupFilter]] pass: intra-batch collapsed, verified
      * fresh) — O(batch) banding + append, mirroring
      * [[NearDupIndex.extend]]: new rows enter a bucket (in id order,
      * deterministically) only while its combined size stays ≤
      * `maxBucket`; existing members are never evicted. On cap-cold
      * data the result is identical to a rebuild over corpus ∪
      * admitted (spec-proven). */
    def extend(index: DataFrame, admitted: DataFrame, idCol: String,
        vecCol: String, dim: Int, bits: Int,
        maxBucket: Int = 1000): DataFrame = {
      val batch = Similarity.hyperplaneBuckets(
          admitted.select(col(idCol).cast("long").as("id"),
            col(vecCol).cast("array<double>").as("v")),
          "id", "v", bits, dim)
        .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
      val existingSz = index.groupBy("bucket")
        .agg(count(lit(1)).as("graft_old_sz"))
      val adm = batch
        .withColumn("graft_rk", row_number().over(
          Window.partitionBy("bucket").orderBy("id")))
        .join(existingSz, Seq("bucket"), "left")
        .filter(col("graft_rk") + coalesce(col("graft_old_sz"), lit(0L))
          <= maxBucket)
        .select("id", "v", "bucket", "nrm")
      index.select("id", "v", "bucket", "nrm").unionAll(adm)
    }

    /** Versioned publish — the [[graft.ops.Versions]] discipline over
      * [[save]] (see [[NearDupIndex.publish]]). */
    def publish(index: DataFrame, dim: Int, bits: Int, path: String)(
        implicit spark: SparkSession): Int =
      Versions.publish(path, dir => save(index, dim, bits, dir))

    def loadVersion(path: String, version: Int)(
        implicit spark: SparkSession): VectorIndexHandle =
      load(Versions.versionDir(path, version))

    def loadCurrent(path: String)(
        implicit spark: SparkSession): VectorIndexHandle =
      loadVersion(path, Versions.current(path))

    /** Forget vectors — the takedown leg (the vector sibling of
      * [[NearDupIndex.remove]] / `IvfIndex.remove`): after removal an
      * exact or near copy of the forgotten vector is admissible again.
      * `removed` must list the bit-identical-vector GROUP
      * REPRESENTATIVES (the ids the index actually stores —
      * [[vectorNearDupIndex]] pre-collapsed exact-dup vectors to their
      * min id) and removal must cover whole groups; then the result
      * equals a rebuild over the surviving corpus on cap-cold data
      * (spec-proven). One anti-join on id, removed side broadcast. */
    def remove(index: DataFrame, removed: DataFrame, idCol: String): DataFrame =
      index.join(
        broadcast(removed.select(col(idCol).cast("long").as("id"))),
        Seq("id"), "left_anti")
  }

  /** Streaming-shape ADMISSION for embeddings — [[nearDupFilter]]'s
    * vector analogue at the crawl front door: a candidate is admitted
    * iff NO corpus vector sharing its hyperplane bucket has cosine ≥
    * `tau`. Candidates are tested against the STATIC corpus only, so
    * admission is batch-boundary-invariant (the s25 composition
    * contract); callers pre-collapse bit-identical candidate vectors
    * ONCE before sharding so a batch boundary can't split an
    * exact-dup group. Per batch the work is O(batch·bits) projections
    * plus a bucket equi-join — the candidate side never meets the
    * whole corpus. */
  def vectorNearDupFilter(index: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, dim: Int, bits: Int = 6,
      tau: Double = 0.8): DataFrame = {
    val cand = Similarity.hyperplaneBuckets(
        batch.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("v")),
        "id", "v", bits, dim)
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
      .ckpt // probed + anti-joined below
    val hits = cand
      .join(index.select(col("bucket"), col("v").as("kv"),
        col("nrm").as("knrm")), Seq("bucket"))
      .filter(when(col("nrm") * col("knrm") === 0.0, lit(0.0))
        .otherwise(Similarity.dot(col("v"), col("kv"))
          / (col("nrm") * col("knrm"))) >= tau)
      .select("id").distinct()
    cand.join(hits, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("v").as(vecCol))
  }

  /** Cluster near-duplicate pairs into connected components, labeling
    * every node with its component's minimum id — the final step of
    * corpus dedup (pairs → clusters → keep one canonical doc each).
    *
    * Min-label propagation with pointer jumping: each pass takes the
    * per-node minimum over neighbor labels AND the label's own label
    * (label(label(n))), so label chains halve every round — O(log
    * diameter) passes even for path-shaped graphs, 2-3 for the star
    * clusters near-dup corpora produce. Convergence is detected by the
    * label sum, which strictly decreases until fixpoint — one cheap
    * aggregate per pass, no driver-side graph state.
    *
    * @return (node, cluster_rep) for every id appearing in `pairs`
    */
  def connectedComponents(
      pairs: DataFrame,
      idCol1: String = "id1",
      idCol2: String = "id2",
      maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, idCol1, idCol2, maxIter)._1

  /** [[connectedComponents]] also reporting how many propagation
    * rounds ran — the observability hook for scale soaks: per-round
    * shuffle is O(V+E), so total shuffle is linear in the graph ×
    * the round count, and a soak that records rounds can attribute a
    * superlinear-looking byte curve to chain-length growth (the
    * expected O(log n) factor) instead of guessing at a cap leak. */
  def connectedComponentsWithRounds(
      pairs: DataFrame,
      idCol1: String = "id1",
      idCol2: String = "id2",
      maxIter: Int = 20): (DataFrame, Int) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // symmetrize with one explode, not a self-union: a union would
    // evaluate the (possibly expensive) upstream pairs pipeline twice
    val edges = pairs
      .select(explode(array(
        struct(col(idCol1).cast("long").as("a"), col(idCol2).cast("long").as("b")),
        struct(col(idCol2).cast("long").as("a"), col(idCol1).cast("long").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
      .persist(lvl)

    // seed labels with the first neighbor-min pass directly from the
    // edge list (cheaper than a join against identity labels): star
    // clusters converge after this seed plus one confirming pass.
    // localCheckpoint (not persist) — the loop references each label
    // table three ways, so without lineage truncation the logical plan
    // grows exponentially with iterations
    var labels = edges.groupBy("a").agg(min("b").as("mb"))
      .select(col("a").as("node"), least(col("a"), col("mb")).as("cluster_rep"))
      .ckpt
    def labelSum(df: DataFrame) = convergenceSum(df, "cluster_rep")
    var prevSum = labelSum(labels)

    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("node").as("b"), col("cluster_rep").as("nbr_lab")), Seq("b"))
        .groupBy("a").agg(min("nbr_lab").as("nbr_lab"))
      val next = labels
        .join(nbrMin.select(col("a").as("node"), col("nbr_lab")), Seq("node"), "left")
        // pointer jump: also adopt the label of the current label
        .join(labels.select(col("node").as("cluster_rep"),
          col("cluster_rep").as("graft_ptr")), Seq("cluster_rep"), "left")
        .select(col("node"),
          least(col("cluster_rep"),
            least(coalesce(col("nbr_lab"), col("cluster_rep")),
              coalesce(col("graft_ptr"), col("cluster_rep"))))
            .as("cluster_rep"))
        .ckpt
      labels = next
      i += 1
      // convergence probe every 2nd pass (plus the last allowed one):
      // the label sum is non-increasing per pass, so equality across a
      // two-pass stride certifies a fixpoint already held at the first
      // of the two — probing every pass would double the action count
      // of the loop for at most one saved (idempotent) pass. Each
      // pass's Ckpt barrier keeps lineage bounded at one pass.
      if (i % 2 == 0 || i == maxIter) {
        val nextSum = labelSum(labels)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
      }
    }
    edges.unpersist()
    (labels, i)
  }

  /** Exact decimal sum of one column — the convergence metric for the
    * iterative operators (label propagation here, pointer doubling in
    * [[Hierarchy]]). decimal(38,0) so the sum is exact at any size, and
    * null-safe: sum() over an empty input is null, which must read as
    * converged, not NPE (e.g. a pairless Islands link graph). */
  private[ops] def convergenceSum(df: DataFrame, colName: String): java.math.BigDecimal =
    Option(df.agg(sum(col(colName).cast("decimal(38,0)")))
      .collect()(0).getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)

  /** End-to-end corpus deduplication — the composition every training
    * pipeline actually ships: collapse exact duplicates to their min-id
    * representative, find near-duplicate representative pairs via
    * MinHash-LSH, cluster them with [[connectedComponents]], and keep
    * only each cluster's canonical (minimum-id) document. Returns the
    * surviving doc ids.
    *
    * Physical shape: the LSH pipeline's stages as in [[minhashLshPairs]]
    * (hash checkpoint barrier, bucket caps), one extra label join, and a
    * final LEFT ANTI join — dropped members shuffle only their ids. The
    * corpus is collapsed and shingle-hashed ONCE: the same checkpoint
    * serves banding, verification, AND the survivor id set (its ids ARE
    * the exact-dup representatives). */
  def dedupCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 12,
      bands: Int = 3,
      shingleSize: Int = 3,
      tau: Double = 0.6,
      maxBucket: Int = 1000): DataFrame = {
    val hashed = minhashHashed(df, idCol, textCol, shingleSize)
    val pairs = minhashLshPairsFromHashed(hashed, k, bands, tau, maxBucket)
    val dropped = connectedComponents(pairs)
      .filter(col("node") =!= col("cluster_rep"))
      .select(col("node").as("doc_id"))
    hashed.select("doc_id").join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Policy-based near-dup cluster collapse: keep the BEST row per
    * cluster by a caller-supplied score (ties → smallest id) — the
    * production variant of [[dedupCorpus]]'s min-id survivor rule. A
    * crawl pipeline keeps the highest-quality copy of each near-dup
    * family (longest, cleanest, least boilerplate), not the
    * first-crawled one; any scoring column works
    * ([[graft.functions.TextFunctions.qualityScore]], a model score,
    * source priority).
    *
    * `clusters` is [[connectedComponents]] output (node, cluster_rep);
    * rows absent from every cluster form their own singleton. The pick
    * is one `max(struct(score, −id))` hash aggregate on the cluster
    * key — total order, so deterministic under any partitioning, and
    * no window sort. Scale shape: one left join (ids + scores move,
    * never text) plus that aggregate.
    *
    * @return (cluster_rep, keep_id, keep_score, n_members)
    */
  def collapseClustersBest(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      clusters: DataFrame): DataFrame = {
    val d = df.select(col(idCol).cast("long").as("doc_id"),
      col(scoreCol).cast("double").as("score"))
    d.join(clusters.select(col("node").as("doc_id"), col("cluster_rep")),
        Seq("doc_id"), "left")
      .select(coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"),
        col("doc_id"), col("score"))
      .groupBy("cluster_rep")
      .agg(max(struct(col("score").as("keep_score"),
          (-col("doc_id")).as("neg_id"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_rep"), (-col("m.neg_id")).as("keep_id"),
        col("m.keep_score"), col("n_members"))
  }

  /** Embedding near-duplicate pairs: exact cosine within a blocking
    * column (e.g. a cluster/label id or LSH bucket). Vectors are cast to
    * double and reduced with a sequential fold — IEEE-exact. */
  def embeddingCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      tau: Double = 0.95): DataFrame = {
    // norms precomputed ONCE per vector (O(n·d)), not per pair (O(n²·d));
    // sqrt-of-identical-double keeps the result bit-equal to a per-pair
    // formulation, so the oracle is unchanged
    val v = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .withColumn("nrm", sqrt(Similarity.dot(col("vec"), col("vec"))))
    val a = v.select(col("block"), col("id").as("id1"), col("vec").as("v1"), col("nrm").as("n1"))
    val b = v.select(col("block"), col("id").as("id2"), col("vec").as("v2"), col("nrm").as("n2"))
    a.join(b, Seq("block"))
      .filter(col("id1") < col("id2"))
      .select(col("block"), col("id1"), col("id2"),
        when(col("n1") * col("n2") === 0.0, lit(0.0))
          .otherwise(Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
          .as("cos"))
      .filter(col("cos") >= tau)
  }
}
