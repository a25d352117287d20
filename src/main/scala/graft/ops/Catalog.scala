package graft.ops

import org.apache.spark.sql.SparkSession

/** CROSS-ARTIFACT atomic commit — one [[Versions]] pointer over a SET
  * of named artifact references (the Nessie / Iceberg-REST multi-table
  * transaction idea, reduced to the single primitive it needs: an
  * atomic swap of a tiny reference table).
  *
  * [[Versions]] makes ONE artifact's publish atomic; a deployment has
  * several that must stay mutually consistent — the table's stats
  * manifest, its DV set, the admission/search indexes built FROM that
  * table state. Publishing them independently leaves a window where a
  * reader resolves a new index against an old manifest (the index
  * names files the manifest doesn't, or vice versa). A catalog version
  * is a parquet table of (artifact, ref) rows — each ref an opaque
  * location the caller already published immutably (a `v<N>` dir, a
  * manifest dump, a DV dump) — so flipping the ONE catalog pointer
  * moves every artifact simultaneously: readers resolve the catalog
  * once and read a consistent world, writers prepare all artifacts
  * off to the side and commit with one rename.
  *
  * Scale: the catalog is O(#artifacts) rows — bytes. All data-scale
  * work stays in the artifacts themselves; time travel and vacuum are
  * inherited from [[Versions]] verbatim. Refs must point at IMMUTABLE
  * locations (the same contract Versions.publish documents): a caller
  * that re-publishes an artifact in place under a still-referenced ref
  * defeats the snapshot, exactly as overwriting a committed data file
  * would. */
object Catalog {

  /** Publish the next catalog version holding `refs`. Returns the new
    * catalog version number. Concurrency-safe in the narrow sense that
    * two racing commits get DISTINCT versions and both land (the claim
    * protocol in [[Versions.publish]]); it does NOT protect a
    * read-modify-write — a writer that resolved the current refs, added
    * an artifact, and commits here can still interleave with another
    * such writer so the later commit's world silently omits the
    * earlier's addition. Writers deriving refs from the current version
    * must use [[commitRetry]] (or [[commitCas]] directly).
    *
    * `committedAt` stamps the version for [[resolveAsOf]] timestamp
    * time travel — wall clock by default, caller-injectable so tests
    * and replay stay deterministic. */
  def commit(spark: SparkSession, path: String,
      refs: Map[String, String],
      committedAt: Option[Long] = None): Int = {
    require(refs.nonEmpty, "catalog commit needs at least one artifact")
    Versions.publish(path,
      writeVersion(spark, _, refs, committedAt))(spark)
  }

  /** Compare-and-swap [[commit]]: lands as `expected + 1` iff the
    * committed history still ends at `expected` (0 = empty catalog);
    * throws [[CommitConflictException]] otherwise. The primitive under
    * [[commitRetry]]. */
  def commitCas(spark: SparkSession, path: String, expected: Int,
      refs: Map[String, String],
      committedAt: Option[Long] = None): Int = {
    require(refs.nonEmpty, "catalog commit needs at least one artifact")
    Versions.publishCas(path, expected,
      writeVersion(spark, _, refs, committedAt))(spark)
  }

  /** Optimistic read-modify-write commit — the safe verb for
    * genuinely concurrent writers. `prepare` receives the CURRENT
    * version's refs (empty map for a fresh catalog, `_txn` stripped)
    * and returns the refs to commit; on a [[CommitConflictException]]
    * the loop re-resolves, re-runs `prepare` against the winner's
    * refs, and retries — so no concurrent writer's artifacts are ever
    * silently dropped, and every version's world is derived from its
    * immediate predecessor (linearizable history). `prepare` must
    * therefore be a PURE function of `base`, not merely safe to run
    * more than once: the loop memoizes its result per base and reuses
    * it on every retry against an unchanged base, so any output that
    * depends on something other than `base` (a clock, a counter, state
    * read outside the refs) is frozen at the first attempt. Its
    * artifacts follow the rule every commit path already does:
    * immutable dirs keyed by content/uuid.
    *
    * Bounded, with a SEPARATE budget per conflict kind — the two mean
    * opposite things about progress. A STALE EXPECTED (the committed
    * head advanced past this writer's base) is proof the SYSTEM is
    * progressing — some writer committed — so it re-prepares almost
    * immediately (a small growing jitter breaks writer lockstep) and
    * draws on a generous `16 × maxAttempts` budget: exhausting it
    * takes hundreds of committed versions landing mid-loop, i.e.
    * starvation, which deserves the loud throw. A HELD CLAIM (head
    * unchanged, the slot's claim taken but uncommitted) means this
    * writer is WAITING, so it backs off exponentially up to ~1 s per
    * wait — long enough to outlast a slow winner's publish (which
    * includes a Spark parquet write) — against the `maxAttempts`
    * budget proper. A head that stays stuck through repeated waits is
    * a crashed writer's orphaned claim: every few stuck conflicts the
    * loop invokes [[Versions.cleanOrphanedClaims]] with the lease from
    * `spark.graft.commit.claimLeaseMs` (default 10 min), so the
    * catalog self-heals instead of halting until an operator deletes
    * the claim by hand. The reclaim is self-guarding — it only removes
    * commit-marker-less claims older than the lease, and a reclaimed-
    * but-actually-live writer fails its own claim-ownership check
    * rather than publishing over the reclaim. */
  def commitRetry(spark: SparkSession, path: String,
      prepare: Map[String, String] => Map[String, String],
      maxAttempts: Int = 32,
      committedAt: Option[Long] = None): Int = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    implicit val s: SparkSession = spark
    var stuck = 0 // held-claim conflicts (we are waiting on a publish)
    var advanced = 0 // stale-expected conflicts (others are committing)
    var stuckHead = -1 // committed head we keep conflicting on unchanged
    var stuckRun = 0 // consecutive conflicts on that unchanged head
    // memoize the last prepared refs: a HELD-CLAIM conflict leaves the
    // committed base UNCHANGED, so re-running `prepare` would rebuild
    // (and usually re-persist) an identical artifact set — measured as
    // half of q149's twenty DV writes. `prepare` is idempotent by
    // contract and its artifact dirs are immutable, so reusing the
    // attempt's own output for the same base is exactly equivalent.
    var lastBase: Map[String, String] = null
    var lastRefs: Map[String, String] = null
    while (true) {
      val cur = Versions.currentOr0(path)
      val base =
        if (cur == 0) Map.empty[String, String]
        else resolve(spark, path, cur) - "_txn"
      val refs =
        if (lastBase != null && base == lastBase) lastRefs
        else {
          val r = prepare(base)
          lastBase = base; lastRefs = r; r
        }
      try return commitCas(spark, path, cur, refs, committedAt)
      catch {
        case e: CommitConflictException =>
          if (e.winner > cur) {
            advanced += 1
            if (advanced >= maxAttempts * 16) throw e
            stuckHead = -1; stuckRun = 0
            if (advanced >= 3) // repeated losses: break the lockstep
              Thread.sleep(math.min(50L, advanced.toLong) +
                (advanced * 7) % 11)
          } else {
            stuck += 1
            if (stuck >= maxAttempts) throw e
            if (cur == stuckHead) stuckRun += 1
            else { stuckHead = cur; stuckRun = 1 }
            if (stuckRun % ReclaimEveryStuck == 0)
              Versions.cleanOrphanedClaims(path,
                spark.conf.get(ClaimLeaseConf, "600000").toLong)
            Thread.sleep(
              math.min(1000L, 2L << math.min(stuckRun + 1, 9)) +
                (stuck * 7) % 17)
          }
      }
    }
    -1 // unreachable
  }

  /** Lease (ms) before [[commitRetry]] treats a commit-marker-less
    * claim as a crashed writer's orphan and reclaims it — must exceed
    * the deployment's longest claim-to-commit publish. */
  val ClaimLeaseConf = "spark.graft.commit.claimLeaseMs"
  private val ReclaimEveryStuck = 5

  /** Sidecar file inside a version dir holding the commit timestamp
    * (millis). Underscore-prefixed, so parquet readers of the refs
    * table ignore it; written BEFORE the commit marker, so it is
    * atomically part of the version. */
  private val TsFile = "_committed_at"

  /** The refs table's parquet schema — the same logical shape Spark's
    * writer produced for `toDF("artifact","ref")` (two optional UTF8
    * binaries), so histories written by either writer read back through
    * either reader. */
  private val RefsSchema = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType(
      "message refs { optional binary artifact (UTF8); " +
        "optional binary ref (UTF8); }")

  private def writeVersion(spark: SparkSession, dir: String,
      refs: Map[String, String], committedAt: Option[Long]): Unit = {
    // The refs table is O(#artifacts) rows — bytes. Writing it through
    // a Spark job (FileFormatWriter + commit protocol) costs ~100 ms of
    // pure scheduling per COMMIT; at planner scale this is driver-side
    // metadata, so write the single parquet file directly (parquet-mr),
    // the way lake formats write their commit logs.
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = graft.io.PathResolver.fsFor(dir, conf)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    fs.mkdirs(dirPath)
    val file = new org.apache.hadoop.fs.Path(dirPath, "part-00000.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, conf))
      .withType(RefsSchema)
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val factory =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(RefsSchema)
    // null refs never arise from the public verbs, but the parquet-mr
    // writer would NPE on one deep inside append() — fail with a
    // message that names the offending artifact instead (ADVICE r19)
    try refs.toSeq.sortBy(_._1).foreach { case (a, r) =>
      require(a != null && r != null,
        s"catalog $dir: null artifact/ref in commit (artifact=$a, ref=$r)")
      writer.write(factory.newGroup().append("artifact", a).append("ref", r))
    } finally writer.close()
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, TsFile), true)
    out.write(monotonicTs(spark, dir,
      committedAt.getOrElse(System.currentTimeMillis()))
      .toString.getBytes("UTF-8"))
    out.close()
  }

  /** Clamp a commit timestamp to `max(predecessor's + 1, requested)` —
    * the Delta behavior. Without it, writer clock skew (or injected
    * stamps) can record a version whose PREDECESSOR carries a later
    * stamp, and [[resolveAsOf]] then names a world that never existed
    * at the requested instant. Under the CAS paths the predecessor at
    * write time is exactly `version - 1`, so committed stamps are
    * strictly increasing; under plain [[commit]] racing writers the
    * clamp is best-effort (the same narrow window in which plain
    * commit is already documented as unsafe for read-modify-write).
    * A predecessor with no stamp (legacy pre-timestamp version) leaves
    * the requested value as-is. */
  private def monotonicTs(spark: SparkSession, dir: String,
      requested: Long): Long = {
    implicit val s: SparkSession = spark
    val root = new org.apache.hadoop.fs.Path(dir).getParent.toString
    val prev = Versions.currentOr0(root)
    if (prev == 0) requested
    else
      try math.max(committedAt(spark, root, prev) + 1L, requested)
      catch { case _: IllegalArgumentException => requested }
  }

  /** The commit timestamp (millis) a version was stamped with. */
  def committedAt(spark: SparkSession, path: String, version: Int): Long = {
    val fs = graft.io.PathResolver.fsFor(path,
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(
      Versions.versionDir(path, version), TsFile)
    require(fs.exists(p),
      s"catalog $path v$version carries no commit timestamp")
    val in = fs.open(p)
    val s = scala.io.Source.fromInputStream(in).mkString.trim
    in.close()
    s.toLong
  }

  /** Timestamp time travel: the newest committed version whose
    * `committed_at <= ts` — "the catalog as of yesterday 14:00".
    * Refuses pre-history timestamps loudly (there is no world to
    * serve before the first commit). Reads O(#versions-retained) tiny
    * sidecar files — planner-scale metadata. */
  def resolveAsOf(spark: SparkSession, path: String, ts: Long): Int = {
    implicit val s: SparkSession = spark
    val vs = Versions.listVersions(path)
    require(vs.nonEmpty, s"no committed version at $path")
    val at = vs.filter(v => committedAt(spark, path, v) <= ts)
    require(at.nonEmpty,
      s"timestamp $ts precedes the first commit of $path " +
        s"(earliest: ${committedAt(spark, path, vs.head)})")
    at.max
  }

  /** [[commit]] keyed by a transaction id — the exactly-once flip a
    * streaming foreachBatch loop needs: Spark re-runs a failed batch
    * with the SAME batch id, and a plain commit in the retry would
    * publish the same world twice (splitting history and breaking
    * version ≡ batch-prefix reasoning). If any version still on disk
    * carries `txnId`, that version is returned and nothing is written;
    * otherwise this commits `refs` plus the reserved `_txn` artifact
    * row. The lookup reads O(#versions-retained) catalog tables —
    * bytes each, bounded by the retention policy.
    *
    * This makes the POINTER exactly-once; the artifact dirs a batch
    * writes must themselves be replay-safe (immutable per-batch version
    * dirs, or the s34 write-audit-publish staging pattern) — the same
    * division of labor Delta's txn-version store uses.
    *
    * Concurrency note: replays of the SAME txn id dedupe here, and the
    * claim protocol guarantees distinct versions under races — but the
    * refs are whole-world REPLACE semantics. A second INDEPENDENT
    * writer deriving its refs from the current version must go through
    * [[commitRetry]] instead, or its world can omit this stream's
    * artifacts (and vice versa). One streaming committer + any number
    * of commitRetry writers compose safely only if the streaming side
    * also re-resolves per batch — the usual single-owner-per-catalog
    * deployment avoids the question entirely. */
  def commitIdempotent(spark: SparkSession, path: String, txnId: String,
      refs: Map[String, String]): Int = {
    require(!refs.contains("_txn"), "'_txn' is a reserved artifact name")
    implicit val s: SparkSession = spark
    Versions.listVersions(path).reverse
      .find(v => resolve(spark, path, v).get("_txn").contains(txnId))
      .getOrElse(commit(spark, path, refs + ("_txn" -> txnId)))
  }

  /** [[commitIdempotent]] × [[commitRetry]] — the verb a streaming
    * committer needs when it does NOT own the catalog alone. Plain
    * commitIdempotent has whole-world REPLACE semantics (its scaladoc's
    * concurrency note): a batch writer landing commits between
    * micro-batches would have its artifacts silently dropped by the
    * stream's next flip, and vice versa. Here the stream's refs are
    * DERIVED per attempt — `prepare` receives the current world (so a
    * concurrent batch writer's artifacts survive) and the result
    * commits through the CAS loop (so the batch writer can't lose to
    * the stream either) — while the `_txn` key keeps replays of the
    * SAME batch id exactly-once: if any retained version already
    * carries `txnId`, that version is returned and nothing is written.
    * Replays of one query run serially, so the dedupe lookup and the
    * commit cannot race THEMSELVES; the genuinely-concurrent party is
    * the batch writer, which the CAS handles. */
  def commitIdempotentRetry(spark: SparkSession, path: String,
      txnId: String,
      prepare: Map[String, String] => Map[String, String]): Int = {
    implicit val s: SparkSession = spark
    Versions.listVersions(path).reverse
      .find(v => resolve(spark, path, v).get("_txn").contains(txnId))
      .getOrElse(commitRetry(spark, path, base => {
        val refs = prepare(base)
        require(!refs.contains("_txn"), "'_txn' is a reserved artifact name")
        refs + ("_txn" -> txnId)
      }))
  }

  /** The (artifact → ref) map at a pinned catalog version. Reads the
    * tiny refs table directly (parquet-mr, no Spark job): a resolve is
    * planner-scale metadata on every commit/read hot path — paying a
    * full Spark read job (~50-100 ms scheduling) per resolve dominated
    * the commit-heavy gates. Reads files written by either this
    * module's direct writer or the pre-r19 Spark writer (same logical
    * schema). */
  def resolve(spark: SparkSession, path: String,
      version: Int): Map[String, String] = {
    val dir = Versions.versionDir(path, version)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = graft.io.PathResolver.fsFor(dir, conf)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    // Spark's hidden-file convention + isFile, matching the pre-r19
    // spark.read.parquet semantics: a stray _sidecar/.crc or a SUBDIR
    // whose name ends in .parquet must never reach ParquetReader
    // (ADVICE r19)
    val files = fs.listStatus(dirPath).iterator
      .filter(s => s.isFile && {
        val n = s.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      })
      .map(_.getPath)
      .toSeq
    // a committed version dir with NO refs table is corruption (partial
    // vacuum, manual deletion) — fail loudly like the old Spark reader
    // ("unable to infer schema") instead of silently returning an empty
    // world that commitRetry would then rebuild from scratch (ADVICE r19)
    require(files.nonEmpty,
      s"catalog version dir $dir holds no refs parquet file — " +
        "corrupted or partially-vacuumed catalog")
    val out = Map.newBuilder[String, String]
    files.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(
          new org.apache.parquet.hadoop.example.GroupReadSupport(),
          f)
        .withConf(conf)
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          // both fields are declared optional; a null in either (only
          // writable via the pre-r19 Spark path) has no meaning in a
          // refs table — name the file instead of NPEing (ADVICE r19)
          require(g.getFieldRepetitionCount("artifact") > 0 &&
            g.getFieldRepetitionCount("ref") > 0,
            s"catalog refs table $f holds a null artifact/ref row")
          out += g.getString("artifact", 0) -> g.getString("ref", 0)
          g = reader.read()
        }
      } finally reader.close()
    }
    out.result()
  }

  /** The map at the version the atomic pointer names right now. */
  def resolveCurrent(spark: SparkSession, path: String): Map[String, String] =
    resolve(spark, path, Versions.current(path)(spark))

  /** CATALOG-AWARE garbage collection — the missing half of retention
    * when artifacts are referenced, not owned: vacuum the catalog to
    * its newest `keep` versions, then delete every child directory of
    * the caller-supplied `artifactRoots` that NO retained catalog
    * version references. Per-artifact [[Versions.vacuum]] can't do this
    * safely (an artifact version may be old by its own count yet still
    * referenced by a retained catalog version — e.g. a DV set that
    * didn't change for ten commits), so the reference set, not age, is
    * the liveness criterion.
    *
    * Scale: reads O(keep · #artifacts) catalog rows and lists the
    * roots' children — planner-scale metadata only. Deletes are
    * restricted to children of the given roots; anything referenced by
    * ANY retained version survives regardless of age. Returns the
    * deleted directories. The usual retention caveat applies verbatim
    * from [[Versions]]: a reader pinned to a vacuumed catalog version
    * loses — size `keep` to the deployment's longest reader.
    *
    * CONCURRENT WRITERS: a [[commitRetry]] writer stages its artifact
    * dirs BEFORE committing the refs that make them live — at that
    * instant they are unreferenced and a reference-only vacuum would
    * delete them, landing the racing commit with refs to missing dirs.
    * `graceMs` is the Delta-style retention guard: artifact children
    * whose modification time is within the window survive regardless
    * of references. Size it past the deployment's longest
    * prepare-to-commit span; the default 0 keeps the single-writer
    * behavior (vacuum only when no writer is mid-commit). */
  def vacuumKeep(spark: SparkSession, path: String, keep: Int,
      artifactRoots: Seq[String], graceMs: Long = 0L): Seq[String] = {
    require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
    implicit val s: SparkSession = spark
    Versions.vacuum(path, keep)
    def norm(p: String): String =
      new org.apache.hadoop.fs.Path(p).toUri.getPath
    val referenced = Versions.listVersions(path)
      .flatMap(v => resolve(spark, path, v).values)
      .map(norm).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val conf = spark.sparkContext.hadoopConfiguration
    artifactRoots.flatMap { root =>
      val fs = graft.io.PathResolver.fsFor(root, conf)
      val rootPath = new org.apache.hadoop.fs.Path(root)
      if (!fs.exists(rootPath)) Seq.empty
      else fs.listStatus(rootPath).toSeq
        .filter(_.isDirectory)
        .filter(_.getModificationTime <= cutoff)
        .map(_.getPath)
        .filterNot(p => referenced.contains(norm(p.toString)))
        .map { p => fs.delete(p, true); p.toString }
    }
  }

  /** [[resolve]] for one artifact, failing loudly when the catalog
    * version doesn't carry it. */
  def ref(spark: SparkSession, path: String, version: Int,
      artifact: String): String = {
    val m = resolve(spark, path, version)
    m.getOrElse(artifact, throw new IllegalArgumentException(
      s"catalog $path v$version has no artifact '$artifact' " +
        s"(has: ${m.keys.toSeq.sorted.mkString(", ")})"))
  }
}
