package graft.diff

import graft.schema.{Flattener, SchemaUtils}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
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
    /** Single-pass keyed compare: ONE full-outer join on the raw key
      * columns with inline errCol, instead of the reference-shaped
      * except/except/join/flat-join/join pipeline. Produces the same
      * result whenever keys are given and duplicates are disallowed
      * (verified by spec); roughly halves the shuffles — the difference
      * between 2 wide shuffles and ~6 at 100 TB. Set false to force the
      * reference-parity plan. */
    fastKeyed: Boolean = true)

/** The diff engine: given a reference and an actual DataFrame, verify
  * schema equivalence, count duplicate keys, compute the symmetric set
  * difference, join the complements on a synthesized md5 key, flatten
  * nested structs/arrays, and attribute every mismatching flat column in
  * an `errCol: array<string>`.
  *
  * Logical semantics match the reference pipeline
  * (`/root/reference/datasetComparison/.../DatasetComparator.scala:65-141`),
  * including: null-safe per-column equality (`<=>`), DISTINCT semantics of
  * `except`, reversed errCol ordering, one-sided full-join rows keeping
  * nulls on the missing side, and keyless mode hashing ALL columns.
  *
  * Physical plan is deliberately different (designed for 100 TB inputs,
  * see SURVEY.md §4): the reference re-scans both sources for each of its
  * ≥7 actions and probes each array column with its own job; here the
  * keyed inputs and the two complements are persisted, row-count +
  * duplicate-count are fused into ONE aggregate per side, and all array
  * lengths are probed in one pass per side. Joins stay unhinted so AQE /
  * Catalyst pick broadcast vs sort-merge from runtime stats.
  */
class DatasetComparator(
    refDF: DataFrame,
    actualDF: DataFrame,
    options: DiffOptions = DiffOptions()) {

  import options._

  def compare(): ComparisonResult = {
    val (refSel, actSel, selector) = alignSchemas()
    if (fastKeyed && keys.nonEmpty && !allowDuplicates)
      compareFastKeyed(refSel, actSel, selector)
    else
      compareParity(refSel, actSel, selector)
  }

  /** One-pass keyed diff: dup-check aggregates (1 per side), then a
    * single full-outer join on the raw key columns; errCol and the diff
    * filter are inline expressions over the joined row, so the whole
    * compare is scan+scan→join→project with no intermediate
    * materialization. Join stays unhinted: AQE broadcasts a small side
    * or picks sort-merge from runtime stats. */
  private def compareFastKeyed(
      refSel: DataFrame, actSel: DataFrame, selector: List[Column]): ComparisonResult = {
    // Inputs are deliberately NOT persisted: the stats pass below prunes
    // to the key columns (a cheap columnar scan) and the join re-scans
    // the full rows once. Two pruned source scans beat materializing the
    // full input width — at 100 TB a MEMORY_AND_DISK persist of both
    // sides is a cluster-wide spill that costs more than the scan saved.
    val refP = refSel
    val actP = actSel
    val keyCols = keys.map(nestedCol)
    // both sides' (rowCount, dupKeyCount) in ONE union-aggregate action
    val aliasedKeys = keyCols.zipWithIndex.map { case (c, i) => c.as(s"graft_k$i") }
    val keyNames = keyCols.indices.map(i => col(s"graft_k$i"))
    val keyed = refP.select(aliasedKeys :+ lit(0).as("graft_side"): _*)
      .unionAll(actP.select(aliasedKeys :+ lit(1).as("graft_side"): _*))
    val statsRow = keyed
      .groupBy(col("graft_side") +: keyNames: _*).agg(count(lit(1)).as("cnt"))
      .groupBy(col("graft_side")).agg(
        coalesce(sum(col("cnt")), lit(0L)).as("rows"),
        count(when(col("cnt") >= 2, 1)).as("dupKeys"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (refCount, refDups) = statsRow.getOrElse(0, (0L, 0L))
    val (actCount, actDups) = statsRow.getOrElse(1, (0L, 0L))
    if (refDups > 0 || actDups > 0)
      throw new DuplicateKeysException(refDups, actDups)

    // presence markers distinguish one-sided rows from legit all-null
    // rows after the full join
    val refMark = uniqueColumnName("graft_ref_present", refSel.schema)
    val actMark = uniqueColumnName("graft_act_present", actSel.schema)
    val refPref = prefixed(refP, expectedPrefix, "").withColumn(refMark, lit(true))
    val actPref = prefixed(actP, actualPrefix, "").withColumn(actMark, lit(true))

    // null-safe equality on the raw typed key values — same null-key
    // pairing semantics as the reference's md5(concat_ws) key, without
    // string-concat collisions or hashing cost
    val joinCond = keys.map { path =>
      prefixedNestedCol(path, expectedPrefix) <=> prefixedNestedCol(path, actualPrefix)
    }.reduce(_ && _)
    val joined = refPref.join(actPref, joinCond, "full_outer")

    // coarse row-diff prefilter: a joined row can only contribute to
    // errCol if some TOP-LEVEL column pair differs under null-safe
    // whole-value equality (top-level equal ⟹ every flat accessor into
    // it is equal), or the row is one-sided. Filtering here means the
    // array-length probe below and the errCol projection run over diff
    // candidates ONLY — never a full-input scan. When the diff is empty
    // this costs nothing beyond the join itself.
    val q = (n: String) => col(SchemaUtils.quote(n))
    val allEqual = refSel.schema.fieldNames.toSeq
      .map(n => q(s"${expectedPrefix}_$n") <=> q(s"${actualPrefix}_$n"))
      .foldLeft(col(refMark) && col(actMark))(_ && _)
    // one-sided rows leave the marks null → conjunction null → keep
    val coarseP = joined.filter(!coalesce(allEqual, lit(false)))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // flatten select list over the ORIGINAL shape; array lengths probed
    // on the (persisted, small) diff candidates — same complement-side
    // probe scope as the parity path. Positions beyond the diff-side max
    // are null on both sides of every diff row, so errCol is unchanged.
    // Array-free schemas skip the probe action entirely.
    val lengths =
      if (Flattener.hasArrays(refSel.schema)) {
        def side(prefix: String) = coarseP.select(
          refSel.schema.fieldNames.toSeq.map(n => q(s"${prefix}_$n").as(n)): _*)
        Flattener.maxArrayLengths(Seq(side(expectedPrefix), side(actualPrefix)))
      } else Map.empty[String, Int]
    val flatNames = refP
      .select(Flattener.flattenSelectList(refSel.schema, lengths): _*)
      .schema.fieldNames.toSeq
    val expFlat = Flattener.flattenSelectList(refSel.schema, lengths, expectedPrefix)
    val actFlat = Flattener.flattenSelectList(refSel.schema, lengths, actualPrefix)
    val flatPairs = flatNames.lazyZip(expFlat).lazyZip(actFlat).toList
    val errEntries = flatPairs.reverse.map { case (n, e, a) =>
      when(e <=> a, array().cast("array<string>")).otherwise(array(lit(n)))
    }
    val errCol = if (errEntries.isEmpty) array().cast("array<string>")
                 else concat(errEntries: _*)

    val withErr = coarseP
      .withColumn(errorColumnName, errCol)
      .filter(size(col(errorColumnName)) > 0)
    // one action for both counts
    val cnts = withErr.agg(
      count(lit(1)).as("diff"),
      count(when(col(refMark), 1)).as("refSide")).collect()(0)
    val (diffCount, refSideDiff) = (cnts.getLong(0), cnts.getLong(1))
    val diffDF = withErr.drop(refMark, actMark)
    if (diffCount == 0) coarseP.unpersist()
    ComparisonResult(refCount, actCount, refDups, actDups,
      refCount - refSideDiff, selector,
      if (diffCount == 0) None else Some(diffDF), diffCount)
  }

  /** `prefix_root.rest.of.path` accessor for a (possibly nested) key. */
  private def prefixedNestedCol(path: String, prefix: String): Column = {
    val parts = path.split('.')
    parts.tail.foldLeft(col("`" + prefix + "_" + parts.head + "`"))((c, p) => c.getField(p))
  }

  private def compareParity(
      refSel: DataFrame, actSel: DataFrame, selector: List[Column]): ComparisonResult = {
    val keyName = uniqueColumnName("graft_row_key", refSel.schema)
    val refKeyed = addKeyColumn(refSel, keyName).persist(StorageLevel.MEMORY_AND_DISK)
    val actKeyed = addKeyColumn(actSel, keyName).persist(StorageLevel.MEMORY_AND_DISK)

    // one aggregate action per side → (rowCount, duplicateKeyCount)
    val (refCount, refDups) = countsAndDuplicates(refKeyed, keyName)
    val (actCount, actDups) = countsAndDuplicates(actKeyed, keyName)
    if (!allowDuplicates && (refDups > 0 || actDups > 0)) {
      refKeyed.unpersist()
      actKeyed.unpersist()
      throw new DuplicateKeysException(refDups, actDups)
    }

    val refComplement = refKeyed.except(actKeyed).persist(StorageLevel.MEMORY_AND_DISK)
    val actComplement = actKeyed.except(refKeyed).persist(StorageLevel.MEMORY_AND_DISK)
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
  private[diff] def uniqueColumnName(base: String, schemas: StructType*): String = {
    val taken = schemas.flatMap(_.fieldNames).map(_.toLowerCase).toSet
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
    df.withColumn(keyName, md5(concat_ws("|", keyCols.map(_.cast("string")): _*)))
  }

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
