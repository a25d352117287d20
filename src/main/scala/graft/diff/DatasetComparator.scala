package graft.diff

import graft.schema.{Flattener, SchemaUtils}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Comparison failed because the two schemas are not equivalent.
  * Message format matches the reference verbatim (golden-asserted:
  * `DatasetComparatorJobSuite.scala:141-143`). */
class SchemasDifferException(val mismatchPaths: Seq[String])
  extends Exception("Expected and actual datasets differ in schemas. Difference is:\n" +
    s"${mismatchPaths.mkString(", ")} cannot be found in both schemas")

/** Comparison aborted because one side has duplicate keys. Reference-
  * verbatim message (`DatasetComparatorJobSuite.scala:193-195`). */
class DuplicateKeysException(val refDuplicates: Long, val newDuplicates: Long)
  extends Exception("Provided datasets have duplicate rows.\n" +
    s"Reference Dataset has $refDuplicates duplicates\n" +
    s"New Dataset has $newDuplicates duplicates")

/** Raised by jobs (not the library) when diffCount > 0. Jobs that know
  * the paths pass `detail` with the reference's full message format
  * (`DatasetComparatorJobSuite.scala:163-167`). */
class DatasetsDifferException(
    val refRowCount: Long, val newRowCount: Long, val diffCount: Long,
    detail: Option[String] = None)
  extends Exception(detail.getOrElse(
    s"Expected and actual datasets differ: $diffCount " +
      s"difference(s) out of $refRowCount reference / $newRowCount actual rows"))

/** Options for a dataset comparison (CLI surface parity:
  * `/root/reference/datasetComparison/.../cliUtils/CliParametersParser.scala`). */
case class DiffOptions(
    keys: Seq[String] = Nil,
    errorColumnName: String = "errCol",
    expectedPrefix: String = "expected",
    actualPrefix: String = "actual",
    allowDuplicates: Boolean = false,
    providedSchema: Option[StructType] = None,
    cache: Boolean = true,
    /** One-pass compare, keyed or keyless: both sides co-grouped by key
      * in ONE aggregate with inline errCol, and ONE action for every
      * count and array length, instead of the reference-shaped
      * except/except/join/flat-join/join pipeline. Produces the same
      * result whenever duplicates are disallowed (verified by spec and
      * property); one exchange for the whole diff. Set false to force
      * the reference-parity plan. */
    fastKeyed: Boolean = true)

/** The diff engine: given a reference and an actual DataFrame, verify
  * schema equivalence, count duplicate keys, compute the symmetric set
  * difference, pair the two sides by key, flatten nested structs/arrays,
  * and attribute every mismatching flat column in an
  * `errCol: array<string>`.
  *
  * Logical semantics match the reference pipeline
  * (`/root/reference/datasetComparison/.../DatasetComparator.scala:65-141`),
  * including: null-safe per-column equality (`<=>`), DISTINCT semantics of
  * `except`, reversed errCol ordering, one-sided rows keeping nulls on the
  * missing side, and keyless mode hashing ALL columns.
  *
  * Physical plan is deliberately different (designed for 100 TB inputs,
  * see SURVEY.md §4): the reference re-scans both sources for each of its
  * ≥7 actions and probes each array column with its own job. The default
  * path (keyed or keyless, duplicates disallowed) is one co-group
  * aggregate and ONE action: row counts, duplicate keys, the diff counts
  * and every array length come out of a single `collect`, and the
  * persisted diff candidates feed the caller's write. The parity path
  * (`allowDuplicates` or `fastKeyed = false`) persists its keyed inputs
  * and complements and fuses row-count + duplicate-count into one
  * aggregate per side.
  */
class DatasetComparator(
    refDF: DataFrame,
    actualDF: DataFrame,
    options: DiffOptions = DiffOptions()) {

  import options._

  def compare(): ComparisonResult = {
    val (refSel, actSel, selector) = alignSchemas()
    if (fastKeyed && !allowDuplicates) compareOnePass(refSel, actSel, selector)
    else compareParity(refSel, actSel, selector)
  }

  /** One-pass diff: both sides are tagged, unioned and co-grouped by key
    * in ONE aggregate (raw key columns, or the parity path's md5 of all
    * columns when no keys are given), so each group holds the key's row
    * count and first row per side. The row and duplicate-key totals are
    * observed over every group; only diff candidates (one-sided, or the
    * two rows differ) are persisted, and a single action over them yields
    * the diff count, the reference-side diff count and every array length
    * the flattened errCol needs. */
  private def compareOnePass(
      refSel: DataFrame, actSel: DataFrame, selector: List[Column]): ComparisonResult = {
    val names = refSel.schema.fieldNames.toSeq
    val q = (n: String) => col(SchemaUtils.quote(n))
    // keyed: grouping pairs the raw typed key values null-safely — same
    // null-key semantics as the reference's md5(concat_ws) key, without
    // string-concat collisions or hashing cost; keyless: that md5 itself
    val keyCols =
      if (keys.nonEmpty) keys.map(nestedCol)
      else Seq(rowHash(names.map(q)))
    val keyNames = keyCols.indices.map(i => col(s"graft_k$i"))
    def tagged(df: DataFrame, side: Int) = df.select(
      keyCols.zipWithIndex.map { case (c, i) => c.as(s"graft_k$i") } ++
        Seq(lit(side).as("graft_side"), struct(names.map(q): _*).as("graft_row")): _*)
    def onSide(side: Int, c: Column) = when(col("graft_side") === side, c)
    // `first` over a struct plans a sort aggregate; hashing the union on
    // the key first leaves one exchange and one sort for the whole diff
    val grouped = tagged(refSel, 0).unionAll(tagged(actSel, 1))
      .repartition(keyNames: _*)
      .groupBy(keyNames: _*).agg(
        count(onSide(0, lit(1))).as("graft_ref_n"),
        count(onSide(1, lit(1))).as("graft_act_n"),
        first(onSide(0, col("graft_row")), ignoreNulls = true).as("graft_ref_row"),
        first(onSide(1, col("graft_row")), ignoreNulls = true).as("graft_act_row"))
    val totals = Observation()
    def dupKeys(n: String) = count(when(col(n) >= 2, 1))
    val observed = grouped.observe(totals,
      coalesce(sum("graft_ref_n"), lit(0L)).as("refRows"),
      coalesce(sum("graft_act_n"), lit(0L)).as("actRows"),
      dupKeys("graft_ref_n").as("refDups"),
      dupKeys("graft_act_n").as("actDups"))

    // a group is a diff candidate when it is one-sided or its two rows
    // differ: whole-row `<=>` is the conjunction of every top-level
    // column's `<=>`, and top-level equal ⟹ every flat accessor into it
    // is equal. Only candidates are expanded and persisted.
    val expNames = names.map(n => s"${expectedPrefix}_$n")
    val actNames = names.map(n => s"${actualPrefix}_$n")
    val refMark = uniqueColumnName("graft_ref_present", expNames ++ actNames)
    val actMark = uniqueColumnName("graft_act_present", expNames ++ actNames)
    val refRow = col("graft_ref_row")
    val actRow = col("graft_act_row")
    val candidates = maybePersist(observed
      .filter(!(refRow <=> actRow))
      .select(names.zip(expNames).map { case (n, e) => refRow.getField(n).as(e) } ++
        names.zip(actNames).map { case (n, a) => actRow.getField(n).as(a) } ++
        Seq(refRow.isNotNull.as(refMark), actRow.isNotNull.as(actMark)): _*))

    // the one action: candidate counts plus every array's max length over
    // both sides (positions beyond it are null on both sides of every
    // diff row, so errCol is unchanged)
    val probes = Flattener.lengthProbes(refSel.schema, expectedPrefix)
      .zip(Flattener.lengthProbes(refSel.schema, actualPrefix))
      .map { case ((k, e), (_, a)) => k -> max(greatest(e, a)).cast("int") }
    val stats = candidates.agg(count(lit(1)), count(when(col(refMark), 1)) +: probes.map(_._2): _*)
      .collect()(0)
    val seen = totals.get
    val Seq(refCount, actCount, refDups, actDups) =
      Seq("refRows", "actRows", "refDups", "actDups").map(seen(_).asInstanceOf[Long])
    val (diffCount, refSideDiff) = (stats.getLong(0), stats.getLong(1))
    if (refDups > 0 || actDups > 0 || diffCount == 0) candidates.unpersist()
    if (refDups > 0 || actDups > 0)
      throw new DuplicateKeysException(refDups, actDups)
    val lengths = probes.map(_._1).zipWithIndex.map { case (k, i) =>
      k -> (if (stats.isNullAt(2 + i)) 0 else stats.getInt(2 + i))
    }.toMap

    val flatNames = refSel
      .select(Flattener.flattenSelectList(refSel.schema, lengths): _*)
      .schema.fieldNames.toSeq
    val expFlat = Flattener.flattenSelectList(refSel.schema, lengths, expectedPrefix)
    val actFlat = Flattener.flattenSelectList(refSel.schema, lengths, actualPrefix)
    // reversed order — reference parity (`DatasetComparator.scala:228`)
    val errEntries = flatNames.lazyZip(expFlat).lazyZip(actFlat).toList.reverse.map {
      case (n, e, a) => when(e <=> a, array().cast("array<string>")).otherwise(array(lit(n)))
    }
    val errCol = if (errEntries.isEmpty) array().cast("array<string>")
                 else concat(errEntries: _*)
    val diffDF = candidates.select((expNames ++ actNames).map(q) :+ errCol.as(errorColumnName): _*)
    ComparisonResult(refCount, actCount, refDups, actDups,
      refCount - refSideDiff, selector,
      if (diffCount == 0) None else Some(if (cache) narrowed(diffDF) else diffDF), diffCount)
  }

  /** A cached plan keeps its full shuffle width (AQE does not coalesce
    * it), so a small diff would otherwise be written as one file per
    * shuffle partition. Narrow to the width AQE would pick: the cached
    * bytes over the advisory partition size. */
  private def narrowed(diff: DataFrame): DataFrame = {
    val bytes = diff.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.sizeInBytesStats.value.longValue
    }.getOrElse(0L)
    val advisory = JavaUtils.byteStringAsBytes(
      diff.sparkSession.conf.get(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key))
    diff.coalesce(math.max(1L, (bytes + advisory - 1) / advisory).toInt)
  }

  private def compareParity(
      refSel: DataFrame, actSel: DataFrame, selector: List[Column]): ComparisonResult = {
    val keyName = uniqueColumnName("graft_row_key", refSel.columns.toSeq)
    val refKeyed = maybePersist(addKeyColumn(refSel, keyName))
    val actKeyed = maybePersist(addKeyColumn(actSel, keyName))

    // one aggregate action per side → (rowCount, duplicateKeyCount)
    val (refCount, refDups) = countsAndDuplicates(refKeyed, keyName)
    val (actCount, actDups) = countsAndDuplicates(actKeyed, keyName)
    if (!allowDuplicates && (refDups > 0 || actDups > 0)) {
      refKeyed.unpersist()
      actKeyed.unpersist()
      throw new DuplicateKeysException(refDups, actDups)
    }

    val refComplement = maybePersist(refKeyed.except(actKeyed))
    val actComplement = maybePersist(actKeyed.except(refKeyed))
    val refDiffCount = refComplement.count()
    val actDiffCount = actComplement.count()
    // complements are materialized; the keyed inputs can go
    refKeyed.unpersist()
    actKeyed.unpersist()

    val passedCount = refCount - refDiffCount
    if (refDiffCount == 0 && actDiffCount == 0) {
      refComplement.unpersist()
      actComplement.unpersist()
      ComparisonResult(refCount, actCount, refDups, actDups, passedCount,
        selector, None, 0)
    } else {
      val diffDF = createDiffDataFrame(keyName, refComplement, actComplement)
      val diffCount = diffDF.count()
      ComparisonResult(refCount, actCount, refDups, actDups, passedCount,
        selector, Some(diffDF), diffCount)
    }
  }

  private def maybePersist(df: DataFrame): DataFrame =
    if (cache) df.persist(StorageLevel.MEMORY_AND_DISK) else df

  /** Schema check + canonical column alignment (reference
    * `DatasetComparator.scala:69-78,148-173`). With a provided schema both
    * inputs must be supersets of it and only its columns are compared. */
  private def alignSchemas(): (DataFrame, DataFrame, List[Column]) = {
    providedSchema match {
      case Some(ps) =>
        val missing =
          SchemaUtils.diffSchema(ps, SchemaUtils.stripMetadata(refDF.schema)) ++
          SchemaUtils.diffSchema(ps, SchemaUtils.stripMetadata(actualDF.schema))
        if (missing.nonEmpty) throw new SchemasDifferException(missing.distinct)
        // canonicalizeMaps: map columns become key-sorted entry arrays so
        // except / <=> / full-row joins accept them (Spark defines no map
        // ordering; the reference simply fails on map columns)
        val selector = SchemaUtils.dataFrameSelector(ps, canonicalizeMaps = true)
        (refDF.select(selector: _*), actualDF.select(selector: _*), selector)
      case None =>
        val refSchema = SchemaUtils.stripMetadata(refDF.schema)
        val actSchema = SchemaUtils.stripMetadata(actualDF.schema)
        if (!SchemaUtils.isEquivalent(refSchema, actSchema)) {
          val missing = SchemaUtils.diffSchema(refSchema, actSchema) ++
            SchemaUtils.diffSchema(actSchema, refSchema)
          throw new SchemasDifferException(missing.distinct)
        }
        val selector = SchemaUtils.dataFrameSelector(refSchema, canonicalizeMaps = true)
        (refDF.select(selector: _*), actualDF.select(selector: _*), selector)
    }
  }

  /** `base`, `base_0`, `base_1`, … until collision-free (reference
    * `DatasetComparator.scala:239-254`). */
  private[diff] def uniqueColumnName(base: String, names: Seq[String]): String = {
    val taken = names.map(_.toLowerCase).toSet
    if (!taken.contains(base.toLowerCase)) base
    else LazyList.from(0).map(i => s"${base}_$i")
      .find(n => !taken.contains(n.toLowerCase)).get
  }

  /** md5(concat_ws("|", keys cast to string)); ALL columns when no keys
    * were given (reference `DatasetComparator.scala:263-270`). Nested key
    * paths ("ckey.value") are followed through structs. */
  private def addKeyColumn(df: DataFrame, keyName: String): DataFrame = {
    val keyCols: Seq[Column] =
      if (keys.nonEmpty) keys.map(path => nestedCol(path))
      else df.schema.fieldNames.toSeq.map(n => col("`" + n + "`"))
    df.withColumn(keyName, rowHash(keyCols))
  }

  private def rowHash(cols: Seq[Column]): Column =
    md5(concat_ws("|", cols.map(_.cast("string")): _*))

  private def nestedCol(path: String): Column = {
    val parts = path.split('.')
    parts.tail.foldLeft(col("`" + parts.head + "`"))((c, p) => c.getField(p))
  }

  /** One shuffle-aggregate pass returning (rowCount, duplicateKeyCount) —
    * the reference pays two extra full-scan actions for the same numbers
    * (`DatasetComparator.scala:67,182-198,278-289`). */
  private def countsAndDuplicates(df: DataFrame, keyName: String): (Long, Long) = {
    val row = df.groupBy(col(keyName)).agg(count(lit(1)).as("cnt"))
      .agg(
        coalesce(sum(col("cnt")), lit(0L)).as("rows"),
        count(when(col("cnt") >= 2, 1)).as("dupKeys"))
      .collect()(0)
    (row.getLong(0), row.getLong(1))
  }

  private def prefixed(df: DataFrame, prefix: String, keyName: String): DataFrame =
    df.select(df.schema.fieldNames.toSeq.map { n =>
      if (n == keyName) col("`" + n + "`")
      else col("`" + n + "`").as(s"${prefix}_$n")
    }: _*)

  /** Reference `DatasetComparator.scala:121-141`: full-outer join the
    * complements in original nested shape, compute errCol from the
    * flattened shape, join it back by key. */
  private def createDiffDataFrame(
      keyName: String,
      refComplement: DataFrame,
      actComplement: DataFrame): DataFrame = {

    val joined = prefixed(refComplement, expectedPrefix, keyName)
      .join(prefixed(actComplement, actualPrefix, keyName), Seq(keyName), "full_outer")

    // shared flat select list — ONE probe job per complement, not one per
    // array column (reference: HelperFunctions.scala:49-60)
    val flatSelect = Flattener.sharedFlattenSelectList(Seq(refComplement, actComplement))
    val flatRefPlain = refComplement.select(flatSelect: _*)
    val flatRef = prefixed(flatRefPlain, expectedPrefix, keyName)
    val flatAct = prefixed(actComplement.select(flatSelect: _*), actualPrefix, keyName)
    val flatJoined = flatRef.join(flatAct, Seq(keyName), "full_outer")

    val flatNames = flatRefPlain.schema.fieldNames.toSeq
    val compareNames = flatNames.filterNot(_ == keyName)
    // reversed order — reference parity (`DatasetComparator.scala:228`)
    val errEntries: Seq[Column] = compareNames.reverse.map { n =>
      when(col(s"`${expectedPrefix}_$n`") <=> col(s"`${actualPrefix}_$n`"),
        array().cast("array<string>"))
        .otherwise(array(lit(n)))
    }
    val errCol = if (errEntries.isEmpty) array().cast("array<string>")
                 else concat(errEntries: _*)
    val withErr = flatJoined.select(col(keyName), errCol.as(errorColumnName))

    joined.join(withErr, Seq(keyName), "inner").drop(keyName)
  }
}
