package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.{CompareMissingRowsError, CompareNoExactMatchError, MatchDatatypesError,
  MissingKeysAfterMergeError}

/** DataFrame operator family — the Spark port of the reference's
  * `sql_autoloader/dataframe_operations.py` + `connector.py:26-59`
  * (SURVEY.md §2.A, ops A1-A11).
  *
  * Scale notes: the database side of every check is rows the driver
  * already read, and the id join of the single-table calls broadcasts
  * those rows (id/dimension tables are small next to the data being
  * loaded). `Connector.load` collects the caller's frame once and runs
  * its cascade on those rows: the dedup and each step's projection
  * ([[distinctRows]]), D1 ([[containsRows]]), the id guard and the id
  * threading ([[mergeIdRows]]), the renames and drops between steps
  * ([[renamed]], [[dropRows]]) and D2 ([[compareRows]]) run on the
  * driver with no Spark job, and the frame it returns is a local one of
  * the threaded rows. Each driver check keys rows with Spark's own casts
  * and equality (null-safe, byte arrays by content, NaNs equal, −0.0 as
  * 0.0); when it finds a failure, or cannot decide, the Spark operator
  * it stands for ([[mergeIds]], [[compareFrames]]) runs over a frame of
  * the rows the driver holds and raises its own error. The only other
  * actions are the row-count guards in [[mergeIds]] (cached first) and
  * [[hasNulls]]' one aggregation.
  */
object FrameOps {

  /** A1 (`connector.py:26-40`): rename columns per user map, then drop
    * duplicate rows — global dedup is an enforced assumption of the
    * load pipeline (reference README.md:44-47).
    */
  def preprocess(df: DataFrame, columns: Map[String, String] = Map.empty): DataFrame =
    // post-dedup coalesce(1): the dedup's map-side partial aggregation
    // still runs distributed; only the (already per-partition-deduped)
    // final merge collapses to one task. `retrieveIds`,
    // `insertAndRetrieveIds` and `compare` collect the result or a
    // projection of it on the driver for a single-connection JDBC
    // boundary, so any other width pays shuffle.partitions near-empty
    // tasks per action (and a .cache() on the result would pin that
    // width against AQE coalescing: measured 32-task stages over
    // 25-row frames in c_load_roundtrip)
    df.withColumnsRenamed(columns).dropDuplicates().coalesce(1)

  /** A2 (`connector.py:43-59`): invert the rename for columns still
    * present, restoring user-facing names.
    */
  def postprocess(df: DataFrame, columns: Map[String, String] = Map.empty): DataFrame =
    df.withColumnsRenamed(undo(df.columns.toSeq, columns))

  /** [[postprocess]]' rename of a frame with columns `present`. */
  private def undo(present: Seq[String], columns: Map[String, String]): Map[String, String] = {
    val names = present.toSet
    columns.collect { case (k, v) if names.contains(v) => v -> k }
  }

  /** The schema of `postprocess(df, columns)` for a frame of schema
    * `schema`.
    */
  private[graft] def postprocessed(schema: StructType, columns: Map[String, String]): StructType =
    renamed(schema, undo(schema.names.toSeq, columns))

  /** The schema of `df.withColumnsRenamed(renames)` for a frame of
    * schema `schema`: as Spark does, each `(from, to)` in turn renames
    * every column the session's resolver matches to `from`, so a
    * column another pair renamed is matched by its new name, and a
    * rename that leaves two columns the resolver cannot tell apart
    * fails.
    */
  private[graft] def renamed(schema: StructType, renames: Map[String, String]): StructType = {
    val conf = SQLConf.get
    val resolver = conf.resolver
    val fields = renames.toSeq.foldLeft(schema.fields.toSeq) { case (fs, (from, to)) =>
      fs.map(f => if (resolver(f.name, from)) f.copy(name = to) else f)
    }
    if (fields != schema.fields.toSeq) {
      val names = fields.map(f => if (conf.caseSensitiveAnalysis) f.name else f.name.toLowerCase)
      require(names.distinct.size == names.size,
        s"Renaming ${renames.mkString(", ")} leaves duplicate columns: ${fields.map(_.name).mkString(", ")}")
    }
    StructType(fields)
  }

  /** A3 (`dataframe_operations.py:12-16`): true if the frame is empty
    * or any value anywhere is null, in one aggregation job.
    */
  def hasNulls(df: DataFrame): Boolean = {
    if (df.columns.isEmpty) return df.isEmpty
    val anyNull = df.columns.map(c => quoted(c).isNull).reduce(_ || _)
    val row = df.agg(
      count(lit(1)).as("n"),
      sum(when(anyNull, 1L).otherwise(0L)).as("nn")).first()
    row.getLong(0) == 0 || (!row.isNullAt(1) && row.getLong(1) > 0)
  }

  /** A4 (`dataframe_operations.py:59-76`): project to a column subset
    * and dedup. Stays a DataFrame — materialize with `.collect()` only
    * at the JDBC-write boundary.
    */
  def getRows(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.forall(df.columns.contains),
      "Not all columns appear in dataframe.")
    // same post-dedup coalesce(1) as [[preprocess]] — see the note
    // there (these rows are about to cross the JDBC boundary)
    df.select(columns.map(quoted): _*).dropDuplicates().coalesce(1)
  }

  /** A5 (`dataframe_operations.py:79-103`): cast db-fetched columns to
    * the in-flight frame's dtypes so joins/compares are well-typed.
    * With `spark.read.jdbc` types usually already align.
    *
    * Failure parity (`dataframe_operations.py:101-103`, the
    * reference's MatchDatatypesError on polars' InvalidOperation):
    * every cast carries an explicit corruption guard — a non-null
    * value whose `try_cast` comes back null raises with a
    * MatchDatatypesError-labeled message. This makes the failure
    * loud in BOTH ANSI modes: with ANSI off a bare `cast` would
    * silently null the value (data corruption at the id-merge
    * boundary); with ANSI on the guard fires first with the richer
    * column + value message. Map-side, codegen'd — no extra job.
    */
  def matchTypes(dbDf: DataFrame, target: StructType): DataFrame = {
    val targetByName = target.fields.map(f => f.name -> f.dataType).toMap
    dbDf.select(dbDf.columns.map { c =>
      targetByName.get(c) match {
        case Some(dt) if dt != dbDf.schema(c).dataType =>
          val orig = quoted(c)
          val (before, after) = uncastable(c, dt)
          when(orig.isNotNull && orig.try_cast(dt).isNull,
            raise_error(concat(lit(before), orig.cast("string"), lit(after))))
            .otherwise(orig.cast(dt)).as(c)
        case _ => quoted(c)
      }
    }: _*)
  }

  /** The text around the value in [[matchTypes]]' failure message. */
  private def uncastable(column: String, dt: DataType): (String, String) =
    (s"MatchDatatypesError: column `$column` value '", s"' does not cast to ${dt.sql}")

  /** A6 (`dataframe_operations.py:106-161`): left equi-join of data
    * with `(pk-as-alias, cols...)` fetched from the database, joining
    * on all shared columns with null-safe equality (`<=>`, matching
    * the reference's `nulls_equal=True`), then guards:
    *   - no row loss (left join invariant, asserted anyway),
    *   - no duplication unless `allowDuplication`,
    *   - no null ids after the join ([[MissingKeysAfterMergeError]]).
    *
    * The db side is always broadcast: retrieved id tables are deduped
    * dimension rows, small next to the data. The result is returned
    * cached (the guards above already materialized it); the caller
    * owns that cache and unpersists it when done. On a failed guard it
    * is released before the error propagates.
    */
  def mergeIds(
      df: DataFrame,
      dbDf: DataFrame,
      alias: String,
      table: String,
      allowDuplication: Boolean = false,
  ): DataFrame = {
    val joined = joinIds(df, dbDf, alias).cache()
    try {
      val origLen = df.count()
      // row count + null-id count in one aggregation job
      val stats = joined.agg(count(lit(1)).as("n"),
        sum(when(quoted(alias).isNull, 1L).otherwise(0L)).as("nn")).first()
      val newLen = stats.getLong(0)
      val nullIds = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      assert(newLen >= origLen, "Rows were lost when joining on ids.")
      if (newLen != origLen && !allowDuplication)
        throw new AssertionError("Rows were duplicated when joining on ids.")

      if (nullIds > 0) {
        val sample = joined.filter(quoted(alias).isNull).limit(20).collect()
          .mkString("\n")
        throw new MissingKeysAfterMergeError(
          s"When reading from $table Some id's were returned as NA:\n$sample\n" +
            "Check if the uniqueness assumptions you made in your database schema are correct, " +
            "or whether your made a mistake in your schema definitions somewhere.")
      }
      joined
    } catch {
      case e: Throwable => joined.unpersist(); throw e
    }
  }

  /** [[mergeIds]]' join, uncached and unguarded. */
  private def joinIds(df: DataFrame, dbDf: DataFrame, alias: String): DataFrame = {
    require(dbDf.columns.contains(alias),
      "Provided alias not found in fetch from database.")
    val onColumns = df.columns.toSeq.intersect(dbDf.columns.toSeq)

    val l = df.alias("l")
    val r = broadcast(matchTypes(dbDf, df.schema).alias("r"))

    val cond: Column = onColumns
      .map(c => col(s"l.`$c`") <=> col(s"r.`$c`"))
      .reduceOption(_ && _)
      .getOrElse(lit(true))

    l.join(r, cond, "left")
      .select(df.columns.map(c => col(s"l.`$c`")) :+ col(s"r.`$alias`").as(alias): _*)
  }

  /** `mergeIds(frameOf(rows, schema), frameOf(dbRows, dbSchema), ...)`
    * on the driver, for rows the driver holds whose distinct projection
    * onto every column the join matches on is `keys` (schema
    * `keySchema`). Returns the join's schema and rows: each row once per
    * id its key matches, the id appended as the join appends it
    * (nullable, the database column's type). When [[idsOf]] passes, no
    * Spark job runs. Otherwise [[mergeIds]] runs over a frame of `rows`:
    * it raises the error the guard found, or decides where the driver
    * could not, and then its cached result is collected and released.
    */
  private[graft] def mergeIdRows(
      spark: SparkSession,
      schema: StructType, rows: Seq[Row],
      keys: Seq[Row], keySchema: StructType,
      dbRows: Seq[Row], dbSchema: StructType,
      alias: String,
      table: String,
      allowDuplication: Boolean,
  ): (StructType, Seq[Row]) =
    idsOf(schema, keys, keySchema, dbRows, dbSchema, alias, allowDuplication) match {
      case Some(byKey) =>
        val on = keySchema.names.filter(dbSchema.names.contains)
        val key = keyOf(schema, on.map(schema.fieldIndex))
        val id = dbSchema(alias).copy(nullable = true)
        (StructType(schema.fields :+ id), rows.flatMap { r =>
          byKey(new GenericInternalRow(key(r))).map(i => Row.fromSeq(r.toSeq :+ i))
        })
      case None =>
        val guarded = mergeIds(frameOf(spark, rows, schema), frameOf(spark, dbRows, dbSchema),
          alias, table, allowDuplication)
        try (guarded.schema, guarded.collect().toSeq) finally guarded.unpersist()
    }

  /** `mergeIds(df, frameOf(dbRows, dbSchema), ...)` for a frame the
    * driver does not hold, guarded as [[mergeIdRows]] guards it: returns
    * the join, uncached. [[mergeIds]] runs only when [[idsOf]] does not
    * pass, to raise its error or decide.
    */
  private[graft] def mergeIdFrame(
      df: DataFrame,
      keys: Seq[Row], keySchema: StructType,
      dbRows: Seq[Row], dbSchema: StructType,
      alias: String,
      table: String,
      allowDuplication: Boolean,
  ): DataFrame = {
    val dbDf = frameOf(df.sparkSession, dbRows, dbSchema)
    if (idsOf(df.schema, keys, keySchema, dbRows, dbSchema, alias, allowDuplication).isEmpty)
      mergeIds(df, dbDf, alias, table, allowDuplication).unpersist()
    joinIds(df, dbDf, alias)
  }

  /** The ids [[mergeIds]] joins to each key, by key, when its guards
    * pass for a frame of schema `schema` whose distinct projection onto
    * its join columns is `keys`: every key matches exactly one database
    * row (at least one under `allowDuplication`) and no matched id is
    * null. Keys and database rows match as the join matches them: on
    * the columns both schemas name, the database side cast as
    * [[matchTypes]] casts it. None as well when a database value does
    * not cast, or when the driver cannot match as Spark does (a join
    * column outside `keys`, such as an alias the frame already holds, a
    * column it cannot resolve alone, a cast Spark rejects, a collated or
    * nested key), so the caller runs [[mergeIds]] to decide.
    */
  private[graft] def idsOf(
      schema: StructType,
      keys: Seq[Row], keySchema: StructType,
      dbRows: Seq[Row], dbSchema: StructType,
      alias: String,
      allowDuplication: Boolean,
  ): Option[collection.Map[GenericInternalRow, Seq[Any]]] = {
    val on = StructType(keySchema.filter(f => dbSchema.names.contains(f.name)))
    val covered = schema.names.filter(dbSchema.names.contains).forall(keySchema.names.contains)
    (dbReaders(on, dbSchema), dbIndex(dbSchema, alias)) match {
      case (Some(read), Some(id)) if covered =>
        try {
          val ids = mutable.HashMap.empty[GenericInternalRow, Vector[Any]]
          val toDb = CatalystTypeConverters.createToCatalystConverter(dbSchema)
          dbRows.foreach { row =>
            val r = toDb(row).asInstanceOf[InternalRow]
            val key = new GenericInternalRow(read.map(_(r)))
            ids(key) = ids.getOrElse(key, Vector.empty) :+ row.get(id)
          }
          val key = keyOf(keySchema, on.names.map(keySchema.fieldIndex))
          val pass = keys.forall { row =>
            ids.get(new GenericInternalRow(key(row))).exists(matched =>
              !matched.contains(null) && (matched.size == 1 || allowDuplication))
          }
          if (pass) Some(ids) else None
        } catch { case _: MatchDatatypesError => None }
      case _ => None
    }
  }

  /** The distinct projection of driver-held `rows` (schema `schema`)
    * onto `columns`, and its schema: [[getRows]] on the driver. Rows
    * are keyed as `dropDuplicates` groups them ([[keyOf]]), so −0.0
    * and 0.0 are one row, as are all NaNs, and come out in the order
    * of their first occurrence with their values normalized.
    */
  private[graft] def distinctRows(
      rows: Seq[Row], schema: StructType, columns: Seq[String],
  ): (Seq[Row], StructType) = distinctAt(rows, schema, columns.map(schema.fieldIndex))

  /** The distinct rows of driver-held `rows` over all their columns:
    * `dropDuplicates()` on the driver, keyed as [[distinctRows]] keys.
    */
  private[graft] def distinctRows(rows: Seq[Row], schema: StructType): Seq[Row] =
    distinctAt(rows, schema, schema.indices)._1

  private def distinctAt(
      rows: Seq[Row], schema: StructType, at: Seq[Int],
  ): (Seq[Row], StructType) = {
    val projected = StructType(at.map(schema(_)))
    val key = keyOf(schema, at)
    val distinct = mutable.LinkedHashSet.empty[GenericInternalRow]
    rows.foreach(r => distinct += new GenericInternalRow(key(r)))
    val toRow = CatalystTypeConverters.createToScalaConverter(projected)
    (distinct.iterator.map(toRow(_).asInstanceOf[Row]).toSeq, projected)
  }

  /** [[dropReplaced]] of driver-held rows (schema `schema`): the
    * schema and rows left when every column the session's resolver
    * matches to one of `columns` is dropped, as `drop` drops them.
    */
  private[graft] def dropRows(
      schema: StructType, rows: Seq[Row], columns: Seq[String],
  ): (StructType, Seq[Row]) = {
    val resolver = SQLConf.get.resolver
    val keep = schema.indices.filterNot(i => columns.exists(resolver(schema(i).name, _)))
    if (keep.size == schema.size) (schema, rows)
    else (StructType(keep.map(schema(_))), rows.map(r => Row.fromSeq(keep.map(r.get))))
  }

  /** A7 (`dataframe_operations.py:19-56`): set-containment compare of
    * data rows vs database rows. The reference materializes dicts and
    * does list membership — set semantics with nulls equal. Spark's
    * `except` is exactly that (distinct + null-safe), evaluated
    * distributed with two anti-join-shaped plans.
    *
    * `exact=true`: mutual containment, else [[CompareNoExactMatchError]].
    * `exact=false`: drop null-bearing data rows, then require
    * data ⊆ db, else [[CompareMissingRowsError]].
    */
  def compareFrames(df: DataFrame, dbDf: DataFrame, exact: Boolean = true): Unit = {
    // na.drop() is a no-op on null-free data — no need for a separate
    // null-probe job first
    val data = if (!exact) df.na.drop() else df
    val db = dbDf.select(data.columns.map(quoted): _*)

    if (exact) {
      // both difference directions in one job
      val diff = data.except(db).limit(20).withColumn("_side", lit("data"))
        .unionByName(db.except(data).limit(20).withColumn("_side", lit("db")))
        .collect()
      val missing = diff.filter(_.getAs[String]("_side") == "data")
      val extra = diff.filter(_.getAs[String]("_side") == "db")
      if (missing.nonEmpty || extra.nonEmpty)
        throw new CompareNoExactMatchError(
          "Datasets do not match exactly.\nRows in data and not in db:\n" +
            missing.mkString("\n") + "\nRows in db and not in data:\n" +
            extra.mkString("\n") +
            "\n\nConsider adding a WHERE clause to filter out irrelevant data." +
            "\nNote: if this happens due to your data containing missings and your " +
            "database not allowing those, set exact=False")
    } else {
      // the database side runs on its own first, so that a value that
      // does not cast fails every time: once a cached data side turns
      // out empty, AQE drops the database side of `data.except(db)`
      // unevaluated or not, depending on which stage finishes first
      db.write.format("noop").mode("overwrite").save()
      val missing = data.except(db).limit(20).collect()
      if (missing.nonEmpty) throw missingRowsError(missing)
    }
  }

  private def missingRowsError(rows: Iterable[Row]): CompareMissingRowsError =
    new CompareMissingRowsError(
      s"Some rows from data were not found in the database:\n${rows.mkString("\n")}")

  /** `compareFrames(data, matchTypes(db, dataSchema), exact = false)`
    * over rows the driver already holds, evaluated on the driver with
    * no Spark job: the same outcome, the same
    * [[CompareMissingRowsError]] text and the same MatchDatatypesError
    * label on an impossible cast. For flat schemas, as JDBC reads are.
    *
    * Both sides become Catalyst rows. Each database column is read as
    * its data column's type by [[castReader]], and the database rows
    * are keyed in a hash set: `GenericInternalRow` equality is
    * null-safe and compares byte arrays by content. Data rows holding
    * a null or NaN are dropped first, as `na.drop()` does; the first
    * 20 distinct missing rows are reported in data order.
    */
  private[graft] def containsRows(
      data: Seq[Row], dataSchema: StructType,
      dbRows: Seq[Row], dbSchema: StructType,
  ): Unit = {
    val resolver = SQLConf.get.resolver
    val fromDb: Array[InternalRow => Any] = dataSchema.fields.map { f =>
      val i = dbSchema.fields.indexWhere(d => resolver(d.name, f.name))
      require(i >= 0, s"Column `${f.name}` is missing from the database rows.")
      castReader(dbSchema, i, f.dataType).getOrElse(throw new IllegalArgumentException(
        s"Column `${f.name}` does not cast from ${dbSchema(i).dataType.sql} to ${f.dataType.sql}."))
    }
    val missing = missingRows(data, dataSchema, keyRows(dbRows, dbSchema, fromDb),
      skipNulls = true, limit = 20)
    if (missing.nonEmpty) {
      val toRow = CatalystTypeConverters.createToScalaConverter(dataSchema)
      throw missingRowsError(missing.map(toRow(_).asInstanceOf[Row]))
    }
  }

  /** D2 of the loader: `compareFrames(frameOf(rows, schema),
    * matchTypes(db, schema), exact)` for distinct rows the driver holds
    * and the database rows `dbRows`, after asserting that the database
    * returned rows, and (when `rows` is non-empty and null-free) at
    * least as many as `rows`. Decided on the driver: no row may be
    * missing from the database rows read as its columns
    * ([[dbReaders]]), and with `exact` the distinct database keys must
    * number the rows. [[compareFrames]] runs, over frames of the rows
    * the driver holds, only when the driver finds a mismatch or cannot
    * key the database rows as Spark would, to raise its own error.
    */
  private[graft] def compareRows(
      spark: SparkSession, schema: StructType, rows: Seq[Row],
      dbRows: Seq[Row], dbSchema: StructType, exact: Boolean,
  ): Unit = {
    val dbCount = dbRows.size
    assert(dbCount > 0, "Compare query yielded no results.")
    if (rows.nonEmpty && !rows.exists(_.anyNull))
      assert(dbCount >= rows.size, s"Compare query yielded fewer rows ($dbCount) than data.")
    val matches = dbReaders(schema, dbSchema).exists { read =>
      try {
        val db = keyRows(dbRows, dbSchema, read)
        (!exact || db.size == rows.size) &&
          missingRows(rows, schema, db, skipNulls = !exact, limit = 1).isEmpty
      } catch { case _: MatchDatatypesError => false }
    }
    if (!matches)
      compareFrames(frameOf(spark, rows, schema),
        matchTypes(frameOf(spark, dbRows, dbSchema), schema), exact = exact)
  }

  /** Up to `limit` distinct rows of `data` (schema `dataSchema`) whose
    * key is not in `db`, in data order; with `skipNulls`, rows holding a
    * null or NaN are skipped, as `na.drop()` drops them.
    */
  private def missingRows(
      data: Seq[Row], dataSchema: StructType, db: collection.Set[GenericInternalRow],
      skipNulls: Boolean, limit: Int,
  ): collection.Set[GenericInternalRow] = {
    val key = keyOf(dataSchema, dataSchema.indices)
    val missing = mutable.LinkedHashSet.empty[GenericInternalRow]
    val it = data.iterator
    while (missing.size < limit && it.hasNext) {
      val values = key(it.next())
      val k = new GenericInternalRow(values)
      if (!(skipNulls && values.exists(isNullOrNaN)) && !db.contains(k)) missing += k
    }
    missing
  }

  /** A row's values at `at` as `except`, `dropDuplicates` and the id
    * join group them: Catalyst values, [[normalized]]. In a
    * `GenericInternalRow` they compare null-safely, bytes by content.
    */
  private def keyOf(schema: StructType, at: Seq[Int]): Row => Array[Any] = {
    val idx = at.toArray
    val convert = idx.map(i => CatalystTypeConverters.createToCatalystConverter(schema(i).dataType))
    row => Array.tabulate(idx.length)(j => normalized(convert(j)(row.get(idx(j)))))
  }

  /** One-partition frame over driver-held rows. */
  private[graft] def frameOf(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** The database rows as keys: each row's values read by `read`. */
  private def keyRows(
      dbRows: Seq[Row], dbSchema: StructType, read: Array[InternalRow => Any],
  ): mutable.HashSet[GenericInternalRow] = {
    val toDb = CatalystTypeConverters.createToCatalystConverter(dbSchema)
    val keys = new mutable.HashSet[GenericInternalRow]()
    dbRows.foreach { row =>
      val r = toDb(row).asInstanceOf[InternalRow]
      keys += new GenericInternalRow(read.map(_(r)))
    }
    keys
  }

  /** Per column of `dataSchema`, a [[castReader]] of the database column
    * `matchTypes` casts and `select` then finds for it. None when a key
    * cannot be matched on the driver as Spark matches it: the column
    * is missing, or ambiguous under the session's resolver, or not
    * named exactly (`matchTypes` would leave it uncast); Spark rejects
    * the cast; or the type is nested or a non-binary collation.
    */
  private def dbReaders(
      dataSchema: StructType, dbSchema: StructType,
  ): Option[Array[InternalRow => Any]] = {
    val readers = dataSchema.fields.map { f =>
      val keyable = f.dataType match {
        case s: StringType => s == StringType // the UTF8_BINARY collation
        case _: NumericType | BinaryType | BooleanType | DateType | TimestampType |
            TimestampNTZType => true
        case _             => false
      }
      if (!keyable) None
      else dbIndex(dbSchema, f.name).flatMap(castReader(dbSchema, _, f.dataType))
    }
    if (readers.forall(_.isDefined)) Some(readers.map(_.get)) else None
  }

  /** The one database column the session's resolver finds for `name`,
    * if that column is named `name` exactly.
    */
  private def dbIndex(dbSchema: StructType, name: String): Option[Int] = {
    val resolver = SQLConf.get.resolver
    dbSchema.fields.indices.filter(i => resolver(dbSchema(i).name, name)) match {
      case Seq(i) if dbSchema(i).name == name => Some(i)
      case _ => None
    }
  }

  /** A reader of column `i` of a database row as type `dt`, cast as
    * [[matchTypes]] casts it: Catalyst's own `Cast`, guarded by its
    * `TRY` mode, in the time zone and ANSI mode of the active `SQLConf`.
    * A non-null value that does not cast throws MatchDatatypesError
    * with [[matchTypes]]' text. Values come out [[normalized]]. None
    * when Spark rejects the cast.
    */
  private def castReader(dbSchema: StructType, i: Int, dt: DataType): Option[InternalRow => Any] = {
    val conf = SQLConf.get
    val tz = Some(conf.sessionLocalTimeZone)
    val ref = BoundReference(i, dbSchema(i).dataType, nullable = true)
    if (ref.dataType == dt) Some(r => normalized(ref.eval(r)))
    else {
      val guard = Cast(ref, dt, tz, EvalMode.TRY)
      val cast = Cast(ref, dt, tz, EvalMode.fromSQLConf(conf))
      val (before, after) = uncastable(dbSchema(i).name, dt)
      if (!guard.resolved || !cast.resolved) None
      else Some(r =>
        if (!r.isNullAt(i) && guard.eval(r) == null)
          throw new MatchDatatypesError(before + Cast(ref, StringType, tz).eval(r) + after)
        else normalized(cast.eval(r)))
    }
  }

  /** A Catalyst value as `except` groups it: −0.0 as 0.0, every NaN alike. */
  private def normalized(v: Any): Any = v match {
    case d: Double => if (d.isNaN) Double.NaN else if (d == 0.0d) 0.0d else d
    case f: Float  => if (f.isNaN) Float.NaN else if (f == 0.0f) 0.0f else f
    case other     => other
  }

  /** A value `na.drop()` drops its row for. */
  private def isNullOrNaN(v: Any): Boolean = v match {
    case null      => true
    case d: Double => d.isNaN
    case f: Float  => f.isNaN
    case _         => false
  }

  /** A11 (`dataframe_operations.py:33-34`): drop rows containing any
    * null (used under `exact=false` compare).
    */
  def dropNulls(df: DataFrame): DataFrame = df.na.drop()

  /** A8 (`connector.py:280-282`): drop a table's natural columns after
    * id retrieval; Spark's `drop` is already tolerant of absent
    * columns (reference regression `tests/test_bugs.py:192-220`).
    */
  def dropReplaced(df: DataFrame, columns: Seq[String]): DataFrame =
    df.drop(columns: _*)

  /** Backtick-quoted column reference — column names may contain dots
    * (`table.column` prefixes flow through the load pipeline).
    */
  def quoted(name: String): Column = col(s"`$name`")
}
