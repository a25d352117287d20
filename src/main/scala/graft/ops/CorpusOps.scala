package graft.ops

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Ckpt.CkptSyntax

/** Corpus-level pipeline operators a training-data pipeline needs
  * beyond dedup: deterministic sampling (train/eval splits that are
  * reproducible across engines, runs, and repartitioning — no `rand()`)
  * and vocabulary extraction. All hashing is md5-derived like the rest
  * of the engine, so every operator has an exact DuckDB oracle. */
object CorpusOps {

  /** Salted per-row hash in [0, 100) deciding sample membership. */
  private def samplePct(idCol: String, salt: String) =
    pmod(h64(concat_ws("-", lit(salt), col(idCol).cast("string"))), lit(100))

  /** Keep ~`percent`% of rows, chosen by id hash: a pure filter (no
    * shuffle, no state), pushed to the scan at any scale. */
  def hashSample(df: DataFrame, idCol: String, percent: Int,
      salt: String = "graft-sample"): DataFrame =
    df.filter(samplePct(idCol, salt) < percent)

  /** Per-ROW weighted keep — quality-proportional thinning: a row with
    * weight w ∈ [0, 1] survives with probability w under the replayable
    * salted hash (Bernoulli(w), independent across rows, deterministic
    * under reruns/repartitioning/corpus growth — the per-doc
    * generalization of [[hashSample]]'s global rate and
    * [[stratifiedSample]]'s per-stratum rates). The compare is integer
    * (hash mod 10^6 vs round(w·10^6)), so engines agree at the
    * boundary; weights outside [0, 1] clamp to always-drop/always-keep.
    * Pure filter — no shuffle, pushable to the scan at any scale. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      salt: String = "graft-wsample"): DataFrame =
    df.filter(
      pmod(h64(concat_ws("-", lit(salt), col(idCol).cast("string"))),
        lit(1000000L)) <
        round(col(weightCol).cast("double") * 1000000.0).cast("long"))

  /** Per-stratum sampling rates (e.g. languages at different budgets);
    * strata not in `rates` fall back to `defaultPercent`. Same pure-
    * filter shape as [[hashSample]]. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Int], defaultPercent: Int = 0,
      salt: String = "graft-sample"): DataFrame = {
    val pct = rates.foldLeft(lit(defaultPercent)) { case (acc, (stratum, p)) =>
      when(col(strataCol) === stratum, lit(p)).otherwise(acc)
    }
    df.filter(samplePct(idCol, salt) < pct)
  }

  /** Fixed-size deterministic per-group sample: the `n` rows of each
    * group with the smallest salted id-hash (id tiebreak). Unlike
    * [[stratifiedSample]] (rate-based, pure filter) this guarantees an
    * exact per-group count — the eval-set builder. One shuffle on the
    * group column; the window is a plain ROW_NUMBER over (hash, id), no
    * global sort. */
  def groupSample(df: DataFrame, idCol: String, groupCol: String, n: Int,
      salt: String = "graft-sample"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(h64(concat_ws("-", lit(salt), col(idCol).cast("string"))),
        col(idCol))
    df.withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") <= n)
      .drop("graft_rn")
  }

  /** Fixed-window token chunking with overlap — the pass that turns
    * documents into training-sized pieces. Chunks start every `stride`
    * tokens (stride = size - overlap) and take `size` tokens each; the
    * final partial chunk is kept. Pure per-row explode — no shuffle, no
    * state, parallel at any scale; emits (id, chunk_id, n_chunk_tokens,
    * chunk_text). Empty documents yield one empty chunk. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    // tokenize once, before the lambda: a lambda re-evaluates a captured
    // tokens() once per chunk
    val toks = col("graft_toks")
    val starts = sequence(lit(1), greatest(org.apache.spark.sql.functions.size(toks), lit(1)), lit(stride))
    df.select(col(idCol), tokens(col(textCol)).as("graft_toks"))
      .select(col(idCol), posexplode(transform(starts,
        st => slice(toks, st, lit(size)))).as(Seq("chunk_id", "graft_chunk")))
      .select(col(idCol), col("chunk_id"),
        org.apache.spark.sql.functions.size(col("graft_chunk")).as("n_chunk_tokens"),
        concat_ws(" ", col("graft_chunk")).as("chunk_text"))
  }

  /** (doc, token, tf) triples with NO per-doc exchange: term
    * frequencies fold row-locally in one codegen'd pass
    * ([[graft.functions.TokenCounts]]) and the explode emits one row
    * per DISTINCT token per document. The relational alternative —
    * explode every occurrence, then groupBy(doc, token) — shuffles the
    * corpus's whole token stream to count within single rows; at
    * 100 TB that exchange dwarfs everything downstream of it. Assumes
    * one row per document id (a document table), as every caller here
    * does. */
  private def perDocTf(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
        explode(graft.functions.tokenCounts(tokens(col(textCol)))).as("tc"))
      .select(col("doc"), col("tc.token").as("token"), col("tc.tf").as("tf"))

  /** Smoothed TF-IDF weights per (doc, token):
    * `tf * (ln((1 + N) / (1 + df)) + 1)`. Single explode; the
    * (doc, token) pre-aggregate is materialized by localCheckpoint (not
    * persist — the caller owns the action, so a pinned cache entry could
    * never be unpersisted) because it feeds both the doc-frequency
    * aggregate and the final join. Spec-verified only: `ln` is not
    * bit-portable across engines, so this op deliberately has no exact
    * SQL oracle — [[tfIdfScaled]] is the gate-checkable variant. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perDoc = perDocTf(df, idCol, textCol)
      .ckpt
    val nDocs = df.select(col(idCol)).distinct().count()
    val docFreq = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
    perDoc.join(docFreq, Seq("token"))
      .select(col("doc"), col("token"),
        (col("tf") * (log(lit(nDocs + 1.0) / (col("df") + 1.0)) + 1.0)).as("tf_idf"))
  }

  /** Fixed-point TF-IDF surrogate with an EXACT cross-engine oracle:
    * `tf * ((scale * (N + 1)) div (df + 1))` — all-integer arithmetic,
    * so unlike the `ln`-based [[tfIdf]] it hash-compares across engines.
    * Per token it is a strictly decreasing function of df, so per-token
    * rankings (and any df-threshold filter) match the smoothed-idf
    * ordering; only the absolute scale differs. Same physical shape as
    * [[tfIdf]]. */
  def tfIdfScaled(df: DataFrame, idCol: String, textCol: String,
      scale: Long = 1000000L): DataFrame = {
    val perDoc = perDocTf(df, idCol, textCol)
      .ckpt
    val nDocs = df.select(col(idCol)).distinct().count()
    val docFreq = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
    // true integer division (DIV), not double-divide-then-cast: the
    // rounded double quotient can land one above the floor, and the
    // oracle's `//` is floor division
    perDoc.join(docFreq, Seq("token"))
      .select(col("doc"), col("token"), col("tf"), col("df"),
        (col("tf") * expr(s"${scale * (nDocs + 1)}L DIV (df + 1)"))
          .as("tf_idf_scaled"))
  }

  /** Learned-filter scoring: a hashed bag-of-words LINEAR model over
    * the corpus — the shape of the fastText/logistic quality classifiers
    * used to filter web corpora (quality / educational-value filters).
    * `model` is a `(bucket: long, weight: long)` table from ANY trainer;
    * each token maps to `pmod(h64(token), dim)` (the portable 60-bit md5
    * hash every other operator uses) and
    * `score(doc) = bias + Σ_tokens tf · weight(bucket(token))` —
    * integer-exact, so scores hash-compare across engines. Tokens whose
    * bucket is absent from the model weigh 0.
    *
    * Scale shape: per-doc term frequencies fold row-locally (the
    * [[graft.functions.TokenCounts]] kernel — the raw token stream never
    * shuffles); the model (≤ dim rows) joins BROADCAST; ONE exchange on
    * doc id for the final sum. Model size bounds memory, not corpus
    * size — this is what makes learned filtering viable at 100 TB.
    *
    * @return (doc, score) — one row per non-empty document
    */
  def scoreLinear(df: DataFrame, idCol: String, textCol: String,
      model: DataFrame, dim: Int, bias: Long = 0L): DataFrame = {
    require(dim > 0, s"need dim > 0, got $dim")
    // pre-aggregate the model: a trainer emitting duplicate bucket rows
    // must not fan out the join (weights for the same bucket sum — the
    // linear-model semantics — instead of silently double-counting tf)
    val w = broadcast(model
      .select(col("bucket").cast("long").as("bucket"),
        col("weight").cast("long").as("weight"))
      .groupBy("bucket").agg(sum("weight").as("weight")))
    perDocTf(df, idCol, textCol)
      .select(col("doc"), col("tf"),
        pmod(graft.functions.TextFunctions.h64(col("token")), lit(dim.toLong))
          .as("bucket"))
      .join(w, Seq("bucket"), "left")
      .groupBy("doc")
      .agg((coalesce(sum(col("tf") * col("weight")), lit(0L)) + bias)
        .as("score"))
  }

  /** Content-defined chunking (the FastCDC/rsync idea applied to token
    * streams): a chunk boundary falls AFTER every position whose k-token
    * shingle hash satisfies `hash % modulus == 0`, so boundaries depend
    * on CONTENT, not position — an insertion near the head of a document
    * shifts at most one chunk instead of re-slicing everything, which is
    * what makes chunk-hash dedup robust to edits (fixed-size chunking
    * loses all alignment after the first insertion). Expected chunk
    * length ≈ `modulus` tokens.
    *
    * Pure per-row pipeline: tokenize → positional shingle-hash kernel →
    * boundary scan → slice — no shuffle at all until the caller
    * aggregates chunk hashes. Empty documents emit no chunks.
    *
    * @return (doc, chunk_idx, start_tok, n_tokens, chunk_hash) with
    *         chunk_hash the portable 60-bit hash of the chunk's tokens
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, modulus: Int = 16): DataFrame = {
    require(shingleSize >= 1 && modulus >= 2,
      s"need shingleSize >= 1 and modulus >= 2, got $shingleSize/$modulus")
    val k = shingleSize
    val base = df
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)
      .withColumn("sh", graft.functions.shingleHashSeq64(col("tk"), k))
    // cut positions strictly inside (0, n): i + k for every matching
    // shingle start i; sh is positional, so the list is already sorted
    val bounds = filter(
      transform(sequence(lit(0), size(col("sh")) - 1),
        i => when(
          pmod(get(col("sh"), i), lit(modulus.toLong)) === 0 &&
            (i + k) < size(col("tk")),
          i + k)),
      x => x.isNotNull)
    base
      .withColumn("cuts",
        concat(array(lit(0)), bounds, array(size(col("tk")))))
      .select(col("doc"), col("tk"),
        posexplode(transform(sequence(lit(0), size(col("cuts")) - 2),
          j => struct(
            get(col("cuts"), j).as("start"),
            (get(col("cuts"), j + 1) - get(col("cuts"), j)).as("len")))))
      .select(col("doc"),
        col("pos").cast("long").as("chunk_idx"),
        col("col.start").cast("long").as("start_tok"),
        col("col.len").cast("long").as("n_tokens"),
        graft.functions.TextFunctions.h64(
          concat_ws(" ", slice(col("tk"), col("col.start") + 1, col("col.len"))))
          .as("chunk_hash"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003): hash the positional k-gram shingles of each document,
    * slide a window of `w` consecutive shingle hashes over the sequence,
    * and keep the minimum hash of every window. Any shared substring of
    * length >= k + w - 1 tokens is guaranteed to contribute at least one
    * common fingerprint — the containment/plagiarism detector exact dedup
    * and MinHash both miss.
    *
    * Physical shape: TWO chained codegen'd kernels per row —
    * [[graft.functions.shingleHashSeq64]] (positional hashes) feeding
    * [[graft.functions.windowMin64]] (monotonic-deque window minima,
    * O(tokens) not O(windows×window)) — then one explode. A builtin
    * `transform(sequence, i => array_min(slice(h, i, w)))` formulation
    * is value-identical but re-evaluates the captured hash kernel per
    * window (interpreted lambda): quadratic per document. No shuffle at
    * all — fingerprinting is embarrassingly parallel; downstream joins
    * on `fp` find cross-doc matches with an equi-shuffle that carries
    * (fp, id) pairs only.
    *
    * @return (id, fp) — distinct winnowed fingerprints per document
    */
  def winnow(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "shingle size and window must be >= 1")
    val fps = graft.functions.windowMin64(
      graft.functions.shingleHashSeq64(tokens(col(textCol)), k), w)
    df.select(col(idCol), explode(fps).as("fp"))
  }

  /** BM25 relevance weights per (doc, token) with a log-free idf
    * surrogate: `idf_s = (N - df + 0.5) / (df + 0.5)` — the classic
    * Robertson-Sparck Jones idf WITHOUT the final ln. ln is the one
    * piece of BM25 that is not bit-portable across engines; dropping it
    * keeps idf a strictly decreasing function of df (so rankings by df
    * survive) and makes every remaining operation IEEE double
    * arithmetic, which DuckDB reproduces bit for bit — the gate compares
    * hashes, no epsilon.
    *
    * `score = idf_s * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`
    *
    * Physical shape mirrors [[tfIdfScaled]]: one explode, the (doc,
    * token) pre-aggregate checkpointed once and feeding doc-frequency,
    * doc-length, and the final join; `avgdl` is a scalar aggregate. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val perDoc = perDocTf(df, idCol, textCol)
      .ckpt
    val nDocs = df.select(col(idCol)).distinct().count()
    val docFreq = perDoc.groupBy("token").agg(count(lit(1)).as("df"))
    val docLen = perDoc.groupBy("doc").agg(sum("tf").as("dl"))
    // exact integer sum over exact integer count — the double division
    // is the first (deterministic) rounding step
    val avgdl = docLen.agg(sum("dl").cast("double") / count(lit(1)).cast("double"))
      .collect()(0).getDouble(0)
    val tfD = col("tf").cast("double")
    val dfD = col("df").cast("double")
    val dlD = col("dl").cast("double")
    perDoc.join(docFreq, Seq("token")).join(docLen, Seq("doc"))
      .select(col("doc"), col("token"), col("tf"), col("df"),
        (((lit(nDocs.toDouble) - dfD + 0.5) / (dfD + 0.5)) *
          (tfD * (k1 + 1.0) /
            (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * dlD / avgdl))))
          .as("bm25"))
  }

  /** Eval-set decontamination check: for every eval document, the
    * fraction of its winnowed fingerprints (see [[winnow]]) that occur
    * ANYWHERE in the training corpus. An eval doc copied — or lightly
    * edited — from a train doc scores near 1.0; genuinely held-out text
    * scores near 0. This is the standard n-gram-overlap contamination
    * audit run before trusting a benchmark number.
    *
    * Physical shape: both corpora fingerprint with the zero-shuffle
    * winnow kernels; the train side reduces to DISTINCT fingerprints
    * (one hash-shuffle of longs); one left join on `fp` (longs + ids
    * only — never text) and a per-doc count aggregate.
    *
    * @return (idCol, n_fps, n_hits, contamination) per eval document
    */
  def contamination(evalDf: DataFrame, trainDf: DataFrame,
      idCol: String, textCol: String, k: Int = 5, w: Int = 4): DataFrame = {
    val evalFps = winnow(evalDf, idCol, textCol, k, w)
    val trainFps = winnow(trainDf, idCol, textCol, k, w)
      .select(col("fp")).distinct().withColumn("graft_hit", lit(1L))
    evalFps.join(trainFps, Seq("fp"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_fps"),
        sum(coalesce(col("graft_hit"), lit(0L))).as("n_hits"))
      .withColumn("contamination",
        col("n_hits").cast("double") / col("n_fps").cast("double"))
  }

  /** The frozen index side of [[contaminationFilter]]: the benchmark
    * set's DISTINCT winnowed fingerprints — one zero-shuffle winnow
    * pass + one hash-distinct of longs. Build once, freeze
    * (checkpoint/persist), probe per micro-batch. */
  def benchmarkFingerprints(benchDf: DataFrame, idCol: String,
      textCol: String, k: Int = 5, w: Int = 4): DataFrame =
    winnow(benchDf, idCol, textCol, k, w).select(col("fp")).distinct()

  /** Streaming-shape CONTAMINATION guard — [[contamination]] turned
    * into a front-door admission filter: a candidate is admitted iff
    * the fraction of its winnowed fingerprints found in the FROZEN
    * benchmark set stays under `maxContamination`. Candidates are
    * tested against the static set only, so admission is
    * batch-boundary-invariant (the s25/s29 composition contract).
    * Documents too short to produce any fingerprint have UNKNOWN
    * overlap and are conservatively rejected (they emit no row).
    * Per batch: one winnow projection + one long-only join against
    * the fingerprint index — text never shuffles.
    *
    * @return admitted (idCol, n_fps, n_hits, contamination)
    */
  def contaminationFilter(benchFps: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, k: Int = 5, w: Int = 4,
      maxContamination: Double = 0.5): DataFrame =
    winnow(batch, idCol, textCol, k, w)
      .join(benchFps.select(col("fp")).withColumn("graft_hit", lit(1L)),
        Seq("fp"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_fps"),
        sum(coalesce(col("graft_hit"), lit(0L))).as("n_hits"))
      .withColumn("contamination",
        col("n_hits").cast("double") / col("n_fps").cast("double"))
      .filter(col("contamination") < maxContamination)

  /** Bigram language-model table: conditional probabilities
    * `P(w2 | w1) = c(w1 w2) / c(w1 ·)` over the corpus — the classic
    * n-gram LM estimator (and the scorer behind perplexity-style quality
    * filters). Documents shorter than 2 tokens contribute nothing.
    *
    * Physical shape: one explode of positional bigrams → one hash
    * aggregate (map-side combined, so the shuffle carries distinct
    * bigrams, not the token stream); prefix totals derive from the
    * aggregated table itself — a second small aggregate over distinct
    * bigrams, NOT a second pass over the corpus. The division is a
    * single deterministic double op (exact integer inputs), so the
    * result hash-compares across engines. */
  def bigramLm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val big = df.select(tokens(col(textCol)).as("graft_ts"))
      .select(bigrams(col("graft_ts")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .ckpt // feeds both the prefix aggregate and the join
    val prefix = big.groupBy("w1").agg(sum("c12").as("c1"))
    big.join(prefix, Seq("w1"))
      .select(col("w1"), substring_index(col("bigram"), " ", -1).as("w2"),
        col("c12"), col("c1"),
        (col("c12").cast("double") / col("c1").cast("double")).as("p"))
  }

  /** One row per positional word bigram of a token array; arrays
    * shorter than 2 tokens explode to nothing. The size test sits inside
    * the generator rather than in a filter, which the optimizer would
    * push below the token projection and so tokenize twice. */
  private def bigrams(toks: Column): Column =
    explode(when(org.apache.spark.sql.functions.size(toks) >= 2,
      shinglesFromTokens(toks, 2)))

  /** Token vocabulary with global occurrence and document frequencies.
    * One explode feeding two hash aggregates — the (doc, token) pre-
    * aggregate gives exact doc frequencies WITHOUT a count-distinct
    * expand, and its map-side combine bounds the shuffle by the distinct
    * (doc, token) pairs, not the token stream. Top-k is a distributed
    * TakeOrdered, tiebroken by token for determinism. */

  def vocabulary(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val perDoc = perDocTf(df, idCol, textCol)
    perDoc.groupBy("token")
      .agg(sum("tf").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)
  }

  /** Corpus-frequent n-grams above a document-frequency floor — the
    * mining pass that produces the template/boilerplate candidate list
    * cleaners like [[removeBoilerplate]] and site-template analyses
    * consume (a phrase on `minDocFreq`+ distinct documents is a
    * template candidate, not content).
    *
    * Shape mirrors [[vocabulary]]: one shingle explode → (doc, ngram)
    * pre-aggregate → (ngram) aggregate, both hash aggregates with
    * map-side combine; the threshold filter is on the aggregated
    * table. Unlike vocabulary's top-k this is support-thresholded, so
    * the result size tracks template mass, not a cap.
    *
    * @return (ngram, n_occurrences, n_docs) with n_docs >= minDocFreq
    */
  def frequentNgrams(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocFreq: Int): DataFrame = {
    require(n > 0 && minDocFreq > 0,
      s"need n > 0 and minDocFreq > 0, got n=$n minDocFreq=$minDocFreq")
    // the shingle explode + per-doc partial aggregate run in the SCAN
    // stage — spread a narrow (tiny-file) input first or they serialize
    // on the file count (guide §2.5; no-op on an at-scale scan)
    Skew.spreadNarrowInput(df).select(col(idCol).as("doc"),
        explode(graft.functions.TextFunctions.wordShingles(col(textCol), n))
          .as("ngram"))
      .groupBy("doc", "ngram").agg(count(lit(1)).as("tf"))
      .groupBy("ngram")
      .agg(sum("tf").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocFreq)
  }

  /** [[frequentNgrams]] with a RESULT-SIZE cap plus observability —
    * the 100 TB guard the support threshold alone cannot give: with a
    * low `minDocFreq` the over-threshold set tracks template mass,
    * which on a crawl corpus is unbounded (every site's boilerplate
    * qualifies), and an unbounded result is itself the scale hazard
    * (it gets broadcast into cleaners like [[removeBoilerplate]]).
    * The cap keeps the `maxNgrams` WIDEST templates — ordered by
    * (n_docs, n_occurrences, ngram) descending, the same "most shared
    * first" order a boilerplate consumer wants — via a bounded
    * top-K (TakeOrderedAndProject), never a global sort.
    *
    * The audit is the same observability contract as
    * [[graft.ops.Dedup.containmentPairsAudited]], folded to one row
    * because the DROPPED set is exactly what may be huge: `(n_kept,
    * n_dropped, max_dropped_docs)` quantifies what the cap lost and
    * how close the loss came to the keep line. `n_dropped = 0`
    * certifies the capped result equals [[frequentNgrams]] on this
    * input.
    */
  def frequentNgramsAudited(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocFreq: Int, maxNgrams: Int): (DataFrame, DataFrame) = {
    require(maxNgrams > 0, s"maxNgrams must be positive, got $maxNgrams")
    val all = frequentNgrams(df, idCol, textCol, n, minDocFreq)
      .ckpt // top-K and audit both read it
    // the sort key, direction-folded so one lexicographic struct order
    // expresses (n_docs desc, n_occurrences desc, ngram asc)
    def key(d: DataFrame): Column = struct(
      (d("n_docs") * -1).as("a"), (d("n_occurrences") * -1).as("b"),
      d("ngram").as("c"))
    val kept = all.orderBy(col("n_docs").desc, col("n_occurrences").desc,
        col("ngram").asc)
      .limit(maxNgrams)
    // the keep LINE is the last kept row — computable from the bounded
    // kept set itself (≤ maxNgrams rows), broadcast back over the full
    // aggregate; a row is dropped iff it sorts strictly after the line
    val line = kept.agg(max(key(kept)).as("graft_line"))
    val audit = all.crossJoin(broadcast(line)).agg(
      coalesce(sum(when(key(all) <= col("graft_line"), 1L).otherwise(0L)),
        lit(0L)).as("n_kept"),
      coalesce(sum(when(key(all) > col("graft_line"), 1L).otherwise(0L)),
        lit(0L)).as("n_dropped"),
      max(when(key(all) > col("graft_line"), col("n_docs")))
        .as("max_dropped_docs"))
    (kept, audit)
  }

  /** Bigram-LM quality score per document — the KenLM-style "does this
    * text look like the corpus" filter, in FIXED-POINT arithmetic so it
    * has an exact cross-engine oracle (gate d26): each bigram scores
    * `(c12 · scale) div c1` (its scaled conditional probability from
    * the corpus-wide counts, cf. [[bigramLm]] — whose `ln`-free double
    * `p` is the spec-only variant) and a document reports the count,
    * sum, and integer mean of its bigram scores. Low means flag
    * out-of-distribution or garbled text.
    *
    * Shape: the exploded (doc, bigram) stream is materialized once
    * (localCheckpoint — caller owns the action) and feeds both the LM
    * aggregation and the scoring join; the LM table is bounded by the
    * distinct-bigram vocabulary, far smaller than the corpus, and the
    * scoring join shuffles only (doc, bigram) pairs. */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      scale: Long = 1000000000L): DataFrame = {
    val docBg = df
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("graft_ts"))
      .select(col("doc"), bigrams(col("graft_ts")).as("bigram"))
      .ckpt
    val c12 = docBg.groupBy("bigram").agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .ckpt // feeds the prefix aggregate and the LM join
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val lm = c12.join(c1, Seq("w1"))
      .select(col("bigram"), expr(s"(c12 * ${scale}L) div c1").as("p_scaled"))
    docBg.join(lm, Seq("bigram"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_bigrams"), sum("p_scaled").as("score"))
      .select(col("doc"), col("n_bigrams"), col("score"),
        expr("score div n_bigrams").as("mean_p"))
  }

  /** Concat-and-chunk sequence packing: documents are laid end to end
    * (within `groupCol`, in `idCol` order) into a virtual token stream
    * and each gets the training-sequence id of its START offset —
    * `(cum_before_doc) div budget` — the packing a pretraining loader
    * performs when it concatenates documents and slices fixed blocks.
    * Emitted per sequence: document count, token total, id span.
    *
    * Scale shape: groups pack independently (one shuffle on the group
    * key); the running total inside a group is a window scan, which is
    * the irreducible sequential part of packing — at 100 TB you bound
    * group width by packing per (group, shard) exactly as a multi-host
    * loader shards the corpus. No driver state, no collect. */
  def pack(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val ntok = when(length(trim(col(textCol))) === 0, lit(0L))
      .otherwise(tokenCount(col(textCol)).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("doc"))
    df.select(col(groupCol).as("grp"), col(idCol).as("doc"), ntok.as("ntok"))
      .withColumn("graft_cum", sum("ntok").over(w))
      .select(col("grp"), col("doc"), col("ntok"),
        expr(s"(graft_cum - ntok) div ${budget}L").as("seq_id"))
      .groupBy("grp", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
        min("doc").as("first_doc"), max("doc").as("last_doc"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 "Scaling
    * Language Models: ... Gopher", appendix A1.1, public): the
    * document-level filter battery every web-scale corpus pipeline
    * runs BEFORE dedup — word-count bounds, mean-word-length bounds,
    * and a minimum count of distinct stopwords (the cheap "is this
    * prose at all" test). Emits one verdict row per document with each
    * rule's boolean beside the composite `keep`, so filter tuning can
    * attribute kill rates per rule instead of watching one opaque
    * fraction.
    *
    * Everything folds in ONE projection over the text column — no
    * shuffle, no UDF, fully codegen'd, and the filter pushes to the
    * scan when callers select `keep`. The mean-length rule is kept in
    * integer arithmetic (letters ⋛ bound·words instead of a double
    * mean) so the verdicts are bit-exact cross-engine.
    *
    * @param stopwords distinct-membership panel; a doc passes with
    *                  >= `minStopwords` of them present
    */
  def gopherRules(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 30,
      maxWords: Int = 100000,
      minMeanLen: Int = 3,
      maxMeanLen: Int = 10,
      stopwords: Seq[String] = Seq("the", "a", "and", "of", "to"),
      minStopwords: Int = 2): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords, got $minWords..$maxWords")
    require(minMeanLen >= 1 && maxMeanLen >= minMeanLen,
      s"need 1 <= minMeanLen <= maxMeanLen, got $minMeanLen..$maxMeanLen")
    require(stopwords.nonEmpty && minStopwords >= 0,
      "need a non-empty stopword panel and minStopwords >= 0")
    val words = split(col(textCol), " ")
    val nWords = size(words).cast("long")
    // letters = chars excluding the single-space separators; exact
    // integer mean-length bounds: min·n <= letters <= max·n
    val letters = length(replace(col(textCol), lit(" "), lit(""))).cast("long")
    val stopHits = stopwords.map(w =>
      when(array_contains(words, lit(w)), 1).otherwise(0))
      .reduce(_ + _)
    df.select(col(idCol),
        nWords.as("n_words"), letters.as("n_letters"),
        stopHits.cast("int").as("n_stopwords"))
      .withColumn("r_wordcount",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_meanlen",
        col("n_letters") >= lit(minMeanLen.toLong) * col("n_words") &&
        col("n_letters") <= lit(maxMeanLen.toLong) * col("n_words"))
      .withColumn("r_stopwords", col("n_stopwords") >= minStopwords)
      .withColumn("keep",
        col("r_wordcount") && col("r_meanlen") && col("r_stopwords"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, public):
    * the fraction of the document's word bigrams taken by its single
    * most frequent bigram, and the fraction of word trigrams whose
    * trigram occurs more than once. High values flag boilerplate and
    * degenerate generations. Entirely row-local — n-gram frequencies
    * fold inside the row via the codegen'd
    * [[graft.functions.TokenCounts]] kernel, so the operator is a pure
    * projection: no explode, no shuffle, embarrassingly parallel at any
    * scale. The text tokenizes once per row, and each shingle array is
    * built once, feeding only its count kernel. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def frac(num: Column, den: Column): Column =
      when(den === 0, lit(0.0)).otherwise(num.cast("double") / den.cast("double"))
    val toks = col("graft_toks")
    // an n-shingle array has max(size - (n-1), 1) elements
    def nShingles(n: Int): Column =
      greatest(org.apache.spark.sql.functions.size(toks) - (n - 1), lit(1))
    val topBg = array_max(transform(
      graft.functions.tokenCounts(shinglesFromTokens(toks, 2)), x => x.getField("tf")))
    val dupTg = aggregate(graft.functions.tokenCounts(shinglesFromTokens(toks, 3)), lit(0L),
      (acc, x) => acc + when(x.getField("tf") >= 2, x.getField("tf")).otherwise(lit(0L)))
    df.select(col(idCol), tokens(col(textCol)).as("graft_toks"))
      .select(col(idCol),
        frac(topBg, nShingles(2)).as("top_bigram_frac"),
        frac(dupTg, nShingles(3)).as("dup_trigram_frac"))
  }

  /** Cross-document boilerplate removal (the paragraph-dedup pass of
    * CCNet/C4-style pipelines, applied to aligned `unit`-token spans
    * since the corpus carries no line structure): fingerprint each
    * span, count how many DISTINCT documents contain it, drop spans
    * shared by more than `maxDf` documents (headers, footers, cookie
    * banners), and reassemble the survivors in order.
    *
    * Scale shape: span TEXT never shuffles. The frequency pass explodes
    * only (doc, span_pos, fingerprint); the drop is a LEFT ANTI join
    * against the over-threshold fingerprints — a set bounded by
    * corpus_tokens / (unit · maxDf), in practice the tiny boilerplate
    * vocabulary, so AQE broadcasts it; surviving positions reduce to one
    * int-array row per doc (map-side combined). Text moves exactly once,
    * in the final equi-join back to the corpus, where each document
    * re-chunks row-locally and keeps the surviving positions. Documents
    * that are pure boilerplate keep a row with clean_text = ''. The
    * fingerprint projection runs twice (frequency pass + final rebuild)
    * — two pruned columnar scans, cheaper at any scale than
    * materializing and shuffling every span string. */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      unit: Int = 8, maxDf: Long = 5): DataFrame = {
    // the spans of the projected graft_toks: tokenize once per row, not
    // once per span inside the lambda
    val toks = col("graft_toks")
    val spanTexts = transform(
      sequence(lit(1), greatest(org.apache.spark.sql.functions.size(toks), lit(1)), lit(unit)),
      st => concat_ws(" ", slice(toks, st, lit(unit))))
    val spans = df.select(col(idCol), tokens(col(textCol)).as("graft_toks"))
      .select(col(idCol),
        posexplode(transform(spanTexts, s => h64(s))).as(Seq("graft_pos", "graft_fp")))
    val boiler = spans.select(col(idCol), col("graft_fp")).distinct()
      .groupBy("graft_fp").agg(count(lit(1)).as("graft_df"))
      .filter(col("graft_df") > maxDf)
    // graft_-prefixed internals so the join-back cannot collide with
    // caller columns (including this operator's own output schema)
    val keptIds = spans.join(boiler.select("graft_fp"), Seq("graft_fp"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("graft_n_kept"),
        array_sort(collect_list(col("graft_pos"))).as("graft_kept"))
    df.join(keptIds, Seq(idCol), "left")
      .withColumn("graft_toks", tokens(col(textCol)))
      .withColumn("graft_spans", spanTexts)
      .select(col(idCol),
        org.apache.spark.sql.functions.size(col("graft_spans")).cast("long").as("n_spans"),
        coalesce(col("graft_n_kept"), lit(0L)).as("n_kept"),
        array_join(org.apache.spark.sql.functions.filter(col("graft_spans"),
          (_, i) => array_contains(
            coalesce(col("graft_kept"), array().cast("array<int>")), i)),
          " ").as("clean_text"))
  }

  /** Long duplicate-span removal — exact substring dedup in the style
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", ExactSubstr): every token span of `n` tokens whose
    * content also occurs in at least `minDocs` DISTINCT documents is
    * cut from every document carrying it (licenses, templates, quoted
    * wire copy — the cross-document duplicated substrings exact-doc
    * dedup cannot touch). Overlapping duplicated n-grams chain into one
    * removed span, so any shared run of >= n tokens disappears whole.
    * Like the reference tool, ALL occurrences are cut (no canonical
    * copy is exempted); exact-duplicate documents therefore empty out —
    * run [[graft.ops.Dedup.dedupCorpus]] first when one survivor per
    * cluster should be kept.
    *
    * Scale shape: the corpus-wide duplicate test ships (fp, doc, pos)
    * triples only — token TEXT never shuffles (d27's posture); the hit
    * list joins back to the doc row by id ONCE, and span merging +
    * token rebuild are row-local folds over the sorted hit array (hits
    * merge to intervals first, so the per-token coverage test scans
    * O(#spans), not O(#hits)). */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 6, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"span length must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2 (duplication), got $minDocs")
    val tks = tokens(col(textCol))
    // positional n-gram fingerprints: element i hashes tokens[i, i+n)
    // (short docs hash as one whole-text shingle, same as wordShingles).
    // The positions table feeds BOTH the duplicate census and the
    // join-back — barrier it so tokenize+hash runs once, not twice
    val pos = df.select(col(idCol).as("graft_doc"),
        posexplode(graft.functions.shingleHashSeq64(tks, n))
          .as(Seq("graft_pos", "graft_fp")))
      .ckpt
    val dup = pos.select("graft_fp", "graft_doc").distinct()
      .groupBy("graft_fp").agg(count(lit(1)).as("graft_df"))
      .filter(col("graft_df") >= minDocs)
    val hits = pos.join(dup.select("graft_fp"), Seq("graft_fp"))
      .groupBy("graft_doc")
      .agg(array_sort(collect_list(col("graft_pos"))).as("graft_hits"))
    // sorted hit positions → merged half-open [s, e) spans in ONE
    // row-local fold (hits ascend, so the merge branch's new end p+n is
    // always the maximum)
    val spans = expr(s"""
      aggregate(coalesce(graft_hits, cast(array() as array<int>)),
        cast(array() as array<struct<s:int,e:int>>),
        (acc, p) -> CASE
          WHEN size(acc) > 0 AND p <= element_at(acc, -1).e
          THEN concat(slice(acc, 1, size(acc) - 1),
                      array(named_struct('s', element_at(acc, -1).s,
                                         'e', p + $n)))
          ELSE concat(acc, array(named_struct('s', p, 'e', p + $n)))
          END)""")
    df.join(hits, col(idCol) === col("graft_doc"), "left")
      .withColumn("graft_spans", spans)
      .withColumn("graft_kept",
        org.apache.spark.sql.functions.filter(tks, (_, i) =>
          !exists(col("graft_spans"),
            sp => sp.getField("s") <= i && i < sp.getField("e"))))
      .select(col(idCol),
        org.apache.spark.sql.functions.size(tks).cast("long").as("n_tokens"),
        org.apache.spark.sql.functions.size(col("graft_kept")).cast("long")
          .as("n_kept"),
        array_join(col("graft_kept"), " ").as("clean_text"))
  }

  /** Sparse matrix multiply as join–aggregate — the relational form of
    * C = A·B that projects every document's term-frequency vector
    * through a term→topic weight matrix (the shape of count-based topic
    * scoring, hashed feature projection, or any sparse-feature × dense-
    * parameter product). A is the (doc, token, tf) triple store from
    * [[perDocTf]] (no per-doc exchange); B is materialized per DISTINCT
    * vocabulary term with md5-derived integer weights so the gate has
    * an exact oracle. ONE shuffle on the contraction key (token) joins
    * A⋈B, then the (doc, topic) reduce runs with map-side combine —
    * the canonical distributed sparse-matmul plan, never a cross join.
    * All-integer arithmetic: exact on any engine. */
  def projectTopics(df: DataFrame, idCol: String, textCol: String,
      nTopics: Int, weightMod: Long = 1000L): DataFrame = {
    require(nTopics > 0, s"nTopics must be positive, got $nTopics")
    // the tf triple store feeds BOTH the vocabulary (weights) build and
    // the contraction join — barrier it so tokenization runs once, not
    // once per consumer (same two-consumer shape as tfIdf)
    val tf = perDocTf(df, idCol, textCol).ckpt
    val weights = tf.select("token").distinct()
      .select(col("token"),
        posexplode(transform(sequence(lit(0), lit(nTopics - 1)),
          t => pmod(h64(concat_ws("|", col("token"), t.cast("string"))),
            lit(weightMod)))).as(Seq("topic", "w")))
    tf.join(weights, Seq("token"))
      .groupBy(col("doc"), col("topic"))
      .agg(sum(col("tf") * col("w")).as("score"))
  }

  /** Deterministic train/validation/test assignment: the md5-derived
    * per-row bucket in [0, 100) is split by cumulative thresholds, so
    * the assignment is reproducible across engines, runs, partitionings
    * and INCREMENTAL corpus growth (a document's split never changes
    * when other documents arrive — the property `randomSplit` cannot
    * give). Pure projection: no shuffle, no state. */
  def deterministicSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10),
      salt: String = "graft-split"): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 100,
      s"split percentages must sum to 100, got $splits")
    // NON-NULL id guard, per-row (the op is a pure projection — there
    // is no shuffle for a duplicate check to ride, and duplicates are
    // harmless here anyway: same id ⇒ same split, by design). A NULL
    // id is not harmless: concat_ws skips nulls, so every null-id row
    // hashes to the salt-only bucket and lands in ONE split together —
    // silent leakage-shaped bias. Opt out: spark.graft.validate.ids.
    val bucket =
      if (Guards.enabled(df))
        when(col(idCol).isNull, raise_error(lit(
          "deterministicSplit: PRECONDITION violated — idCol must be " +
          "non-null (all null-id rows hash to one bucket and land in " +
          "the same split together)")).cast("bigint"))
          .otherwise(samplePct(idCol, salt))
      else samplePct(idCol, salt)
    val cuts = splits.scanLeft(0) { case (acc, (_, p)) => acc + p }.tail
    val assign = splits.zip(cuts).foldRight(lit(splits.last._1): Column) {
      case (((name, _), cut), acc) => when(bucket < cut, lit(name)).otherwise(acc)
    }
    df.withColumn("bucket", bucket).withColumn("split", assign)
  }

  /** Temperature-based domain rebalancing (the multilingual/multi-source
    * mixing rule of GPT-3/PaLM-style pipelines, public in Brown et al.
    * 2020 §2.2): domain d with n_d documents gets sampling weight
    * `n_d^(1/2) / Σ n^(1/2)` — a α=0.5 temperature that upweights
    * small domains — and each document is kept with probability
    * `min(1, targetFrac·N·w_d / n_d)` decided by its salted md5
    * fraction, so the sample is deterministic and repartition-stable.
    *
    * Determinism across engines: every float input derives from exact
    * integer counts; the Σ n^(1/2) reduction folds over the domain list
    * SORTED BY DOMAIN NAME (one array_sort + aggregate over a
    * collect_list in a single 1-row reduce — domains are few by
    * definition), so even double summation order is pinned. The per-row
    * uniform is the first 13 md5 hex digits as a 52-bit integer,
    * compared against keep_frac·2^52 — float-exact on both engines.
    *
    * Scale shape: one tiny aggregate (|domains| rows) → 1-row reduce →
    * broadcast join of the per-domain keep fractions → pure filter.
    * The corpus itself is scanned once and never shuffled. */
  def temperatureMix(df: DataFrame, idCol: String, domainCol: String,
      targetFrac: Double = 0.5, salt: String = "graft-mix"): DataFrame = {
    // graft_-prefixed internals: a caller whose domain column is itself
    // named "domain" (or "n"/"keep_frac") must not hit an ambiguous
    // reference in the join-back
    //
    // unique/non-null id PRECONDITION guard riding the per-domain count
    // aggregate the op already runs (Guards.aggIdGuard): a duplicated
    // id keeps or drops BOTH copies together (correlated sampling bias
    // the caller can't see), and null ids all share the salt-only
    // uniform, keeping or dropping as one block. count_distinct skips
    // nulls, so count != count_distinct witnesses both. Opt out via
    // spark.graft.validate.ids (pre-validated bulk loads skip the
    // distinct branch entirely — plan identical to the unguarded one).
    val guardOn = Guards.enabled(df)
    val domAggs = Seq(count(lit(1)).as("graft_n")) ++
      (if (guardOn) Seq(count_distinct(col(idCol)).as("graft_nd")) else Nil)
    val domStats = df.groupBy(col(domainCol).as("graft_domain"))
      .agg(domAggs.head, domAggs.tail: _*)
    val totals = domStats.agg(
      sum("graft_n").as("graft_total"),
      aggregate(
        array_sort(collect_list(struct(col("graft_domain"), col("graft_n")))),
        lit(0.0),
        (acc, s) => acc + sqrt(s.getField("graft_n").cast("double"))).as("graft_sqrt_sum"))
    val keepBase = least(lit(1.0),
      (lit(targetFrac) * col("graft_total").cast("double")) *
        (sqrt(col("graft_n").cast("double")) / col("graft_sqrt_sum")) /
        col("graft_n").cast("double"))
    val keep = if (guardOn)
      keepBase + Guards.aggIdGuard("temperatureMix",
        col("graft_n"), col("graft_nd"), lit(0L)).cast("double")
    else keepBase
    val fracs = domStats.crossJoin(broadcast(totals))
      .select(col("graft_domain"), keep.as("graft_keep_frac"))
    val u52 = conv(substring(
      md5(concat_ws("-", lit(salt), col(idCol).cast("string"))), 1, 13), 16, 10)
      .cast("long")
    df.join(broadcast(fracs), df(domainCol) === fracs("graft_domain"))
      .filter(u52.cast("double") <
        col("graft_keep_frac") * lit(4503599627370496.0)) // 2^52
      .select(df.columns.toIndexedSeq.map(df(_)) :+
        col("graft_keep_frac").as("keep_frac"): _*)
  }

  /** TOKEN-BUDGET source mixing — the hard-quota counterpart of
    * [[temperatureMix]]: build a training mix by admitting each
    * source's documents in deterministic id order until the source's
    * TOKEN budget is crossed. Greedy prefix semantics: a document is in
    * iff the tokens of all LOWER-id same-source documents total under
    * the budget — so the doc that crosses the line is the last one in,
    * everything after is out, and the recipe ("N tokens of web, M of
    * code") is an exact replayable filter, not a probabilistic rate.
    * Sources absent from `budgets` are dropped entirely.
    *
    * Scale shape — two-phase prefix selection: a single per-row window
    * over a source would serialize a popular source through one
    * reducer, so phase 1 reduces the corpus to (source, bucket) token
    * sums (bucket = id div `bucketSize` — a table corpus/bucketSize
    * rows), classifies each bucket with a window over that SMALL
    * table (cumulative-before < budget?), and phase 2 runs the exact
    * per-row window ONLY inside each source's single budget-crossing
    * bucket (≤ bucketSize rows, broadcast-joined): buckets strictly
    * under the line admit wholesale, buckets past it drop wholesale.
    * The corpus shuffles once (the bucket aggregate) + once for the
    * one-bucket-per-source exact pass.
    *
    * PRECONDITION — `idCol` must be UNIQUE within each source: the
    * greedy prefix is ordered by id alone, so two same-source rows
    * sharing an id have no defined order and the admission of the
    * budget-crossing document becomes engine-dependent (Spark and a
    * SQL oracle may cumulate the tie in opposite orders). Same
    * contract as [[budgetedAdmitBatch]], whose folded batches must
    * replay this exact order. Since r14 the contract is RUNTIME-
    * GUARDED (count vs count-distinct riding the bucket aggregate —
    * [[Guards.aggIdGuard]]; the distinct branch shuffles id-level
    * triples instead of bucket rows, so pre-validated bulk loads can
    * opt out via `spark.graft.validate.ids=false`).
    *
    * @param budgets (source, budget) token budget per source
    * @return (doc_id, source, n_tokens) of admitted documents
    */
  def budgetedMix(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, budgets: DataFrame,
      bucketSize: Long = 4096L): DataFrame =
    budgetedMixCounted(
      df.select(col(idCol).cast("long").as("doc_id"),
        col(sourceCol).as("graft_src"),
        tokenCount(col(textCol)).cast("long").as("n_tokens")),
      budgets, bucketSize)

  /** [[budgetedMix]] over a PRE-COUNTED `(doc_id, graft_src, n_tokens)`
    * projection — the shared core, so [[epochPlan]] can reuse ONE
    * tokenize pass for both its full-epoch arithmetic and the
    * fractional-epoch prefix instead of re-tokenizing the corpus. */
  private[graft] def budgetedMixCounted(counted: DataFrame,
      budgets: DataFrame, bucketSize: Long): DataFrame = {
    require(bucketSize > 0, s"bucketSize must be positive, got $bucketSize")
    import org.apache.spark.sql.expressions.Window
    val d = counted
      .withColumn("graft_b", floor(col("doc_id") / lit(bucketSize)))
      .ckpt // phases 1 and 2 both read it
    val b = broadcast(budgets.select(col("source").as("graft_src"),
      col("budget").cast("long").as("graft_budget")))
    val wB = Window.partitionBy("graft_src").orderBy("graft_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    // unique/non-null id + non-null token PRECONDITION guard riding the
    // bucket aggregate's own shuffle: duplicate ids share a bucket
    // (bucket is a function of the id), so per-bucket count vs
    // count_distinct witnesses every violation (Guards.aggIdGuard)
    val guardOn = Guards.enabled(counted)
    val baseAggs = Seq(sum("n_tokens").as("graft_bt"))
    val aggs = if (guardOn) baseAggs ++ Seq(
      count(lit(1)).as("graft_n"),
      count_distinct(col("doc_id")).as("graft_nd"),
      count(when(col("n_tokens").isNull, 1)).as("graft_tn")) else baseAggs
    val cb = coalesce(sum("graft_bt").over(wB), lit(0L))
    val bkts = d.groupBy("graft_src", "graft_b")
      .agg(aggs.head, aggs.tail: _*)
      .join(b, Seq("graft_src"))
      .withColumn("graft_cb",
        if (guardOn) cb + Guards.aggIdGuard("budgetedMix",
          col("graft_n"), col("graft_nd"), col("graft_tn"))
        else cb)
    // full: even the bucket's LAST doc starts under the line. edge: the
    // line crosses inside (≤ one per source — graft_cb is monotone).
    // past: the first doc already starts at/over the line → all out.
    val full = bkts.filter(col("graft_cb") + col("graft_bt") < col("graft_budget"))
    val edge = bkts.filter(col("graft_cb") < col("graft_budget") &&
      col("graft_cb") + col("graft_bt") >= col("graft_budget"))
    val wR = Window.partitionBy("graft_src", "graft_b").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val fullDocs = d.join(full.select("graft_src", "graft_b"),
      Seq("graft_src", "graft_b"), "left_semi")
    val edgeDocs = d
      .join(broadcast(edge.select("graft_src", "graft_b", "graft_cb",
        "graft_budget")), Seq("graft_src", "graft_b"))
      .withColumn("graft_before",
        col("graft_cb") + coalesce(sum("n_tokens").over(wR), lit(0L)))
      .filter(col("graft_before") < col("graft_budget"))
    fullDocs.select("doc_id", "graft_src", "n_tokens")
      .unionAll(edgeDocs.select("doc_id", "graft_src", "n_tokens"))
      .withColumnRenamed("graft_src", "source")
  }

  /** One micro-batch of STREAMING token-budget admission — the
    * [[budgetedMix]] recipe as an incremental fold. `seen` carries the
    * per-source token total of every PREVIOUSLY ARRIVED document
    * (admitted or not — the greedy-prefix rule counts ALL prior
    * tokens, so rejected docs still advance the line); the batch ranks
    * within itself and a document is admitted iff
    * `seen + within-batch-before < budget`. Folding id-ordered batches
    * reproduces the whole-set [[budgetedMix]] exactly (the s30 gate's
    * oracle IS d55's); out-of-order arrival changes which docs count
    * as "prior" — the caller owns the ordering contract, exactly as a
    * log-ordered ingest does. PRECONDITION — ids must be UNIQUE within
    * each source (across ALL batches, not just within one): the
    * within-batch rank orders by id alone, so a duplicated id leaves
    * the budget-crossing admission engine-dependent (see
    * [[budgetedMix]]). State is O(#sources) rows and includes
    * sources with no budget (they admit nothing but their arrival
    * still records — so granting a budget mid-stream behaves like the
    * batch recipe from that point).
    *
    * @param seen (source, seen_tokens) running totals; start from an
    *             empty DataFrame with that schema
    * @return (admitted (doc_id, source, n_tokens), updated seen)
    */
  def budgetedAdmitBatch(seen: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, sourceCol: String,
      budgets: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val d = batch.select(col(idCol).cast("long").as("doc_id"),
        col(sourceCol).as("graft_src"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .ckpt // admitted filter + state fold
    val w = Window.partitionBy("graft_src").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // within-batch unique/non-null id + non-null token guard, riding the
    // same window partitioning (one WindowExec; cross-batch uniqueness
    // stays the caller's documented contract)
    val wLag = Window.partitionBy("graft_src").orderBy("doc_id")
    val before = coalesce(col("graft_seen"), lit(0L)) +
      coalesce(sum("n_tokens").over(w), lit(0L))
    val guarded =
      if (Guards.enabled(batch))
        before + Guards.laggedIdGuard("doc_id", "budgetedAdmitBatch", wLag,
          extraViolation = col("n_tokens").isNull,
          extraMsg = " and text non-null")
      else before
    val admitted = d
      .join(broadcast(budgets.select(col("source").as("graft_src"),
        col("budget").cast("long").as("graft_budget"))), Seq("graft_src"))
      .join(broadcast(seen.select(col("source").as("graft_src"),
        col("seen_tokens").as("graft_seen"))), Seq("graft_src"), "left")
      .withColumn("graft_before", guarded)
      .filter(col("graft_before") < col("graft_budget"))
      .select(col("doc_id"), col("graft_src").as("source"), col("n_tokens"))
    val batchTotals = d.groupBy(col("graft_src").as("source"))
      .agg(sum("n_tokens").as("graft_bt"))
    val newSeen = seen.join(batchTotals, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("seen_tokens"), lit(0L)) +
          coalesce(col("graft_bt"), lit(0L))).as("seen_tokens"))
    (admitted, newSeen)
  }

  /** MIXTURE-UPSAMPLING EPOCH PLAN — the multi-epoch generalization of
    * [[budgetedMix]]: when a source's token budget EXCEEDS its corpus
    * (the small-but-high-quality source every published LLM mix
    * upsamples — Wikipedia/books get >1 epoch in GPT-3 (Brown et al.
    * 2020, Table 2.2 "epochs elapsed when training") and Gopher (Rae
    * et al. 2021)), each document repeats `budget div source_tokens`
    * full epochs, and the REMAINDER budget admits the same
    * deterministic greedy id-prefix as [[budgetedMix]] for one extra
    * epoch. So `n_epochs = full + (1 if in remainder prefix)`, sources
    * under budget degenerate to the plain budget mix (full = 0), and
    * the whole plan is an exact replayable function of (corpus,
    * budgets) — no sampling noise between runs.
    *
    * Scale shape: per-source totals are an O(#sources) aggregate
    * (broadcast back); the fractional prefix is the two-phase bucket
    * selection of [[budgetedMix]]; the final epoch-count join shuffles
    * (id, source, tokens) triples only — text never moves. Same
    * unique-id-per-source PRECONDITION as [[budgetedMix]]; budgets
    * must be non-negative. The precondition is RUNTIME-GUARDED
    * transitively: the fractional-epoch branch runs the guarded
    * [[budgetedMixCounted]] bucket aggregate over the FULL counted
    * projection (every budgeted source's buckets pass through the
    * guard before the full/edge classification; unbudgeted sources are
    * dropped by contract), so a duplicate/null id or null text raises
    * there — spec-pinned in PreconditionGuardSpec. Opt out via
    * `spark.graft.validate.ids=false`.
    *
    * @return (doc_id, source, n_tokens, n_epochs) with n_epochs >= 1;
    *         docs outside the plan (source unbudgeted, or past the
    *         remainder line with full = 0) are absent
    */
  def epochPlan(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, budgets: DataFrame,
      bucketSize: Long = 4096L): DataFrame = {
    val d = df.select(col(idCol).cast("long").as("doc_id"),
        col(sourceCol).as("graft_src"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .ckpt // totals, prefix and join all read it
    val b = budgets.select(col("source").as("graft_src"),
      col("budget").cast("long").as("graft_budget"))
    val plan = d.groupBy("graft_src").agg(sum("n_tokens").as("graft_tt"))
      .join(b, Seq("graft_src"))
      .withColumn("graft_full",
        when(col("graft_tt") > 0, expr("graft_budget div graft_tt"))
          .otherwise(lit(0L)))
      .withColumn("graft_rem",
        col("graft_budget") - col("graft_full") * col("graft_tt"))
    val frac = budgetedMixCounted(d,
        plan.select(col("graft_src").as("source"),
          col("graft_rem").as("budget")), bucketSize)
      .select(col("doc_id"), col("source").as("graft_src"),
        lit(1L).as("graft_extra"))
    d.join(broadcast(plan.select("graft_src", "graft_full")), Seq("graft_src"))
      .join(frac, Seq("graft_src", "doc_id"), "left")
      .withColumn("n_epochs",
        col("graft_full") + coalesce(col("graft_extra"), lit(0L)))
      .filter(col("n_epochs") > 0)
      .select(col("doc_id"), col("graft_src").as("source"),
        col("n_tokens"), col("n_epochs"))
  }

  /** DETERMINISTIC GLOBAL SHUFFLE into training shards — the write-side
    * ordering pass every training run needs: each row gets a pseudo-
    * random but fully REPLAYABLE position, as `(shard, seq)` where
    * shard = h64(salt, id) mod nShards and seq ranks (h64, id) within
    * the shard. Readers stream shard files in seq order and the
    * concatenation is a uniform permutation of the corpus that any
    * engine can reproduce from (salt, nShards) alone — the md5-derived
    * h64 is the engine-portable hash the DuckDB oracle replays exactly.
    *
    * Scale shape: ONE shuffle, moving each row once to its shard —
    * identical to the shard write itself, so the ordering is free at
    * write time. The per-shard rank serializes a shard through one
    * window reducer; shards are the parallelism unit, so pick nShards
    * from the target shard SIZE (corpus_bytes / ~1 GB), which at 100 TB
    * gives ~10^5 shards — far wider than any cluster. A skew-proof
    * alternative global sort would shuffle twice (range partitioner
    * sample + sort); mod-sharding a 60-bit hash is already balanced to
    * O(1/sqrt(n/shards)) without the extra pass.
    *
    * PRECONDITION — `idCol` must be UNIQUE and NON-NULL: the position
    * is a pure function of the id (nulls would all hash identically
    * and tie-break engine-dependently). Same contract as
    * [[shardAssignBatch]], whose folded batches must replay it.
    * RUNTIME-GUARDED since r14 at zero extra cost (equal ids sort
    * adjacent in the op's own window, so a lag comparison witnesses
    * every duplicate — [[Guards.laggedIdGuard]]); opt out via
    * `spark.graft.validate.ids=false`.
    *
    * @return df's columns + (shard INT, seq BIGINT starting at 1)
    */
  def shardShuffle(df: DataFrame, idCol: String, nShards: Int,
      salt: String = "graft-shuffle"): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("graft_h"), col(idCol))
    // the unique/non-null id PRECONDITION is runtime-guarded riding the
    // SAME window (zero extra pass — see Guards.laggedIdGuard)
    val seqCol = {
      val rn = row_number().over(w).cast("long")
      if (Guards.enabled(df))
        rn + Guards.laggedIdGuard(idCol, "shardShuffle", w)
      else rn
    }
    df.withColumn("graft_h",
        h64(concat_ws("-", lit(salt), col(idCol).cast("string"))))
      .withColumn("shard", pmod(col("graft_h"), lit(nShards.toLong)).cast("int"))
      .withColumn("seq", seqCol)
      .drop("graft_h")
  }

  /** One micro-batch of STREAMING shard assignment — [[shardShuffle]]'s
    * write-side fold for a log-ordered ingest: each arriving row gets
    * the same deterministic shard (h64 mod nShards) and a DENSE
    * per-shard position `seq = seen(shard) + within-batch (h64, id)
    * rank`. Positions therefore reflect arrival order across batches
    * (offset fold, state O(nShards) rows) — exactly what an appending
    * shard WRITER needs. The fold does NOT replay the batch op's global
    * hash order (a late arrival can never be seated before an earlier
    * row); within each batch the rank key matches [[shardShuffle]], so
    * id-ordered batches give a batch-boundary-INSENSITIVE total order:
    * (batch, h64, id).
    *
    * @param seen (shard, n_seen) per-shard row totals so far; start
    *             from an empty DataFrame with that schema
    * @return (batch columns + (shard, seq), updated seen)
    */
  def shardAssignBatch(seen: DataFrame, batch: DataFrame, idCol: String,
      nShards: Int, salt: String = "graft-shuffle"): (DataFrame, DataFrame) = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("graft_h"), col(idCol))
    // within-batch unique/non-null id guard, riding the same window
    // (cross-batch uniqueness stays the caller's contract)
    val rkCol = {
      val rn = row_number().over(w).cast("long")
      if (Guards.enabled(batch))
        rn + Guards.laggedIdGuard(idCol, "shardAssignBatch", w)
      else rn
    }
    val ranked = batch.withColumn("graft_h",
        h64(concat_ws("-", lit(salt), col(idCol).cast("string"))))
      .withColumn("shard", pmod(col("graft_h"), lit(nShards.toLong)).cast("int"))
      .withColumn("graft_rk", rkCol)
      .ckpt // assignment + state fold both read
    val assigned = ranked
      .join(broadcast(seen.select(col("shard"),
        col("n_seen").as("graft_seen"))), Seq("shard"), "left")
      .withColumn("seq", coalesce(col("graft_seen"), lit(0L)) + col("graft_rk"))
      .drop("graft_h", "graft_rk", "graft_seen")
    val totals = ranked.groupBy("shard").agg(count(lit(1)).as("graft_bn"))
    val newSeen = seen.join(totals, Seq("shard"), "full_outer")
      .select(col("shard"),
        (coalesce(col("n_seen"), lit(0L)) +
          coalesce(col("graft_bn"), lit(0L))).as("n_seen"))
    (assigned, newSeen)
  }

  /** Learn a byte-pair-encoding merge table over the corpus vocabulary —
    * the REAL iterative BPE loop (Sennrich, Haddow & Birch, ACL'16
    * "Neural Machine Translation of Rare Words with Subword Units",
    * public algorithm), not a frequency sketch: each round counts
    * adjacent symbol pairs across the vocabulary weighted by word
    * frequency, merges the globally most frequent pair everywhere
    * (count desc, then (lhs, rhs) lexicographic — engine-exact
    * determinism), and repeats. Later rounds pair MERGED symbols
    * (e.g. m + er after e + r), which is what makes BPE a genuine
    * fixpoint computation rather than one aggregate.
    *
    * Scale shape: the corpus collapses to its DISTINCT VOCABULARY first
    * (one shuffle of (word, freq) — the classic BPE trick: every
    * iteration's cost depends on vocabulary size, not corpus size).
    * Each round is one pair-explode + sum aggregate over the vocab and
    * ONE driver-side row (the argmax pair — the model parameter being
    * learned, same posture as a kmeans centroid); the merge applies
    * vocabulary-wide as a left-to-right non-overlapping string replace
    * over the space-joined symbol form (exactly the greedy merge
    * order BPE specifies). Words evolve behind a per-round lazy
    * localCheckpoint, so lineage stays bounded at one replace.
    *
    * @param merges     merge rounds to learn (one new symbol each)
    * @param maxWordLen words longer than this are dropped — bounds the
    *                   per-word pair fan-out on adversarial inputs
    * @return (step, lhs, rhs, pair_count), step 1..merges — fewer rows
    *         if the vocabulary runs out of adjacent pairs first
    */
  /** Apply a learned BPE merge table to the corpus — the encode half of
    * [[bpeLearn]] (Sennrich et al. ACL'16): each in-vocabulary word
    * splits to characters and replays the merges IN RANK ORDER, each as
    * a left-to-right non-overlapping replace over the space-joined
    * symbol form (so later merges pair earlier merges' outputs — th+e
    * after t+h). Words outside the learnable vocabulary (non-alpha or
    * over maxWordLen, mirroring bpeLearn's filter) pass through as one
    * atomic symbol.
    *
    * Scale shape: the merge table is a model parameter (tiny, rank-
    * ordered) folded into the projection as a literal replace chain —
    * ZERO shuffle, no state, no UDF; the whole encode is one
    * codegen'd per-row expression, embarrassingly parallel at any
    * corpus size.
    *
    * @return (id, n_tokens, n_subwords, encoded): subword symbols
    *         space-joined within words, words joined by " | "
    */
  def bpeEncode(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      maxWordLen: Int = 30): DataFrame = {
    require(maxWordLen >= 2, s"need maxWordLen >= 2, got $maxWordLen")
    val words = tokens(col(textCol))
    def encodeWord(w: Column): Column = {
      val padded = concat(lit(" "), concat_ws(" ", split(w, "")), lit(" "))
      val merged = merges.foldLeft(padded) { case (c, (l, r)) =>
        replace(c, lit(s" $l $r "), lit(s" $l$r "))
      }
      trim(merged)
    }
    val enc = transform(words, w =>
      when(w.rlike("^[a-z]+$") && length(w) <= maxWordLen, encodeWord(w))
        .otherwise(w))
    df.select(col(idCol),
      org.apache.spark.sql.functions.size(words).cast("long").as("n_tokens"),
      coalesce(aggregate(enc, lit(0L),
        (acc, e) => acc + org.apache.spark.sql.functions.size(split(e, " "))),
        lit(0L)).as("n_subwords"),
      array_join(enc, " | ").as("encoded"))
  }

  def bpeLearn(
      df: DataFrame,
      textCol: String,
      merges: Int,
      maxWordLen: Int = 30): DataFrame = {
    require(merges >= 0, s"need merges >= 0, got $merges")
    require(maxWordLen >= 2, s"need maxWordLen >= 2, got $maxWordLen")
    val spark = df.sparkSession
    import spark.implicits._
    // vocabulary in space-joined symbol form: "word" → " w o r d "
    // (padding makes every symbol boundary an explicit ' x y ' window
    // for the merge replace)
    var words = df
      .select(explode(tokens(col(textCol))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "),
        concat_ws(" ", split(col("word"), "")), lit(" ")).as("w"), col("freq"))
      .ckpt
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val top = words
        .withColumn("sym", split(trim(col("w")), " "))
        .select(col("freq"), col("sym"), posexplode(col("sym")).as(Seq("i", "l")))
        .filter(col("i") < size(col("sym")) - 1)
        .select(col("freq"), col("l"),
          element_at(col("sym"), col("i") + 2).as("r")) // 1-based element_at
        .groupBy("l", "r").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((step, l, r, cnt))
        words = words
          // plain (non-regex) replace is left-to-right non-overlapping,
          // continuing after each replacement — exactly BPE's greedy
          // merge order, and exactly what the oracle's replace() does
          .withColumn("w", replace(col("w"), lit(s" $l $r "), lit(s" $l$r ")))
          .ckpt
        step += 1
      }
    }
    learned.toSeq.toDF("step", "lhs", "rhs", "pair_count")
  }

  /** Per-document n-gram NOVELTY against the corpus prefix: how many of
    * a document's distinct shingles appear in NO earlier document
    * (earlier = smaller id — ingest order, so the metric is "what does
    * this doc add to everything crawled before it"). Curation pipelines
    * rank fresh documents by novelty to damp boilerplate-heavy or
    * re-crawled content before training-mix selection — the scoring
    * sibling of dedup: instead of dropping near-duplicates, it
    * quantifies how duplicated each document is.
    *
    * Counts, not ratios, are emitted ((n_novel, n_shingles) — the
    * caller divides), keeping the output integer-exact cross-engine.
    *
    * Scale posture: text is shingled and hashed ONCE in the scan
    * projection (the codegen'd [[graft.functions.shingleHash64]]
    * kernel); only (hash, doc_id) longs ever shuffle — one aggregate
    * finds each hash's first carrier, one equi-join attributes it
    * back, one aggregate folds per-doc counts. Both the aggregate and
    * the join key on `h`, so AQE coalesces them onto one exchange
    * layout. Hash collisions (two shingles, one 60-bit hash) follow
    * the md5-prefix contract every dedup op here shares — and the
    * oracle replays the identical distinct-then-hash chain. */
  /** EXACT-proportion stratified sample: from every stratum, keep
    * exactly floor(num·n/den) rows, chosen by a salted-hash order — the
    * "exactly 5% eval split per language" a training-mix needs when the
    * hash-threshold sampler's binomial wobble is not acceptable
    * (compare [[graft.functions]]' d49 weighted sampler: zero-shuffle
    * but only EXPECTED proportions). Selection is a pure function of
    * (salt, id), so the split is reproducible across runs and engines;
    * membership qualifies via integer cross-multiplication
    * (rank·den ≤ num·total — no float ratio).
    *
    * Scale: one sort exchange on the stratum key (the rank window and
    * the count window share it). Strata are language/domain-sized —
    * thousands of groups, not billions — so per-stratum sorts
    * parallelize across the cluster; for a single colossal stratum
    * where even that sort hurts, fall back to the hash-threshold
    * sampler and accept the wobble. */
  def stratifiedExact(
      docs: DataFrame,
      strataCol: String,
      idCol: String,
      num: Int,
      den: Int,
      salt: String): DataFrame = {
    require(num >= 0 && den > 0, s"need 0 <= num and den > 0, got $num/$den")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCol).orderBy("graft_hk", idCol)
    val cw = Window.partitionBy(strataCol)
    docs
      .withColumn("graft_hk",
        md5(concat(lit(salt), col(idCol).cast("string"))))
      .withColumn("graft_rn", row_number().over(w))
      .withColumn("graft_tot", count(lit(1)).over(cw))
      .filter(col("graft_rn") * den <= col("graft_tot") * num)
      .drop("graft_hk", "graft_rn", "graft_tot")
  }

  /** Cross-group content-overlap matrix: for every unordered pair of
    * groups (languages, domains, crawl snapshots…), how many DISTINCT
    * shingle hashes the two groups share — the corpus-audit view a
    * curation team reads to find cross-domain contamination, mirrored
    * subsites, or a snapshot that largely duplicates another before
    * committing mix weights.
    *
    * Scale posture: text is shingled/hashed once in the scan; the
    * (group, hash) projection is DISTINCTED FIRST, so the per-hash
    * fan-out of the self-join is bounded by the group cardinality —
    * a shingle shared by every group emits at most C(#groups, 2)
    * pairs, never a per-document cross product. Only (hash, group)
    * rows shuffle; output is planner-scale (≤ C(#groups, 2) rows). */
  def overlapMatrix(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      shingleSize: Int): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val gh = docs
      .select(col(groupCol).cast("string").as("grp"),
        explode(graft.functions.shingleHash64(
          tokens(col(textCol)), shingleSize)).as("h"))
      .distinct()
      // two consumers (both self-join sides): hash the corpus once
      .ckpt
    gh.select(col("h"), col("grp").as("grp_a"))
      .join(gh.select(col("h"), col("grp").as("grp_b")), Seq("h"))
      .filter(col("grp_a") < col("grp_b"))
      .groupBy("grp_a", "grp_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  def noveltyCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val pairs = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(graft.functions.shingleHash64(
          tokens(col(textCol)), shingleSize)).as("h"))
      // two consumers (first-carrier agg + join-back): materialize so
      // the tokenize→shingle→hash projection runs once per document
      .ckpt
    val first = pairs.groupBy("h").agg(min("doc_id").as("first_id"))
    pairs.join(first, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
  }
}
