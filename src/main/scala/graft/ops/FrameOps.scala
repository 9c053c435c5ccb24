package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.{CompareMissingRowsError, CompareNoExactMatchError, MatchDatatypesError,
  MissingKeysAfterMergeError}

/** DataFrame operator family — the Spark port of the reference's
  * `sql_autoloader/dataframe_operations.py` + `connector.py:26-59`
  * (SURVEY.md §2.A, ops A1-A11).
  *
  * Scale notes: `Connector`'s entry points collect the caller's frame
  * once, as Catalyst rows, and run the loader on those rows ([[Held]]):
  * the dedup and each step's projection ([[distinctRows]]), the rows an
  * insert may write ([[unwritten]]), D1 ([[containsRows]]), the id
  * threading and its guards ([[mergeIdRows]]), the renames and drops
  * between steps ([[renamed]], [[dropRows]]) and D2 ([[compareRows]])
  * run on the driver with no Spark job, against database rows the
  * driver read, and the frame returned is a local one of the threaded
  * rows ([[localFrame]]). Values are normalized once, as the rows come
  * in, and every check keys them with no further conversion, by Spark's
  * own casts and equality (null-safe, byte arrays by content, NaNs
  * equal, −0.0 as 0.0); ids go into free values of each row and dropped
  * columns leave only the row's index map, so rows of the output schema
  * are built once, at the end. Each check raises its error itself, with
  * the text of the Spark operator it stands for ([[mergeIds]],
  * [[compareFrames]]); that operator runs, over a frame of the rows the
  * driver holds, only for keys the driver cannot match as Spark does
  * ([[dbReaders]]). The Spark operators' own actions are the row-count
  * guards in [[mergeIds]] (cached first), the two `except` jobs of
  * [[compareFrames]] and [[hasNulls]]' one aggregation.
  */
object FrameOps {

  /** A1 (`connector.py:26-40`): rename columns per user map, then drop
    * duplicate rows — global dedup is an enforced assumption of the
    * load pipeline (reference README.md:44-47).
    */
  def preprocess(df: DataFrame, columns: Map[String, String] = Map.empty): DataFrame =
    // post-dedup coalesce(1): the dedup's map-side partial aggregation
    // still runs distributed; only the (already per-partition-deduped)
    // final merge collapses to one task. The frames this returns are
    // small and end at the driver (the A1 gates collect them), so any
    // other width pays shuffle.partitions near-empty tasks per action
    // (and a .cache() on the result would pin that width against AQE
    // coalescing: measured 32-task stages over 25-row frames)
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
    // there (these rows end at the driver too)
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
    require(dbDf.columns.contains(alias),
      "Provided alias not found in fetch from database.")
    val onColumns = df.columns.toSeq.intersect(dbDf.columns.toSeq)
    val r = broadcast(matchTypes(dbDf, df.schema).alias("r"))
    val cond: Column = onColumns
      .map(c => col(s"l.`$c`") <=> col(s"r.`$c`"))
      .reduceOption(_ && _)
      .getOrElse(lit(true))
    val joined = df.alias("l").join(r, cond, "left")
      .select(df.columns.map(c => col(s"l.`$c`")) :+ col(s"r.`$alias`").as(alias): _*)
      .cache()
    try {
      val origLen = df.count()
      // row count + null-id count in one aggregation job
      val stats = joined.agg(count(lit(1)).as("n"),
        sum(when(quoted(alias).isNull, 1L).otherwise(0L)).as("nn")).first()
      val newLen = stats.getLong(0)
      val nullIds = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      assert(newLen >= origLen, "Rows were lost when joining on ids.")
      if (newLen != origLen && !allowDuplication) throw duplicatedIdsError
      if (nullIds > 0)
        throw missingKeysError(table, joined.filter(quoted(alias).isNull).limit(20).collect())
      joined
    } catch {
      case e: Throwable => joined.unpersist(); throw e
    }
  }

  private def duplicatedIdsError: AssertionError =
    new AssertionError("Rows were duplicated when joining on ids.")

  private def missingKeysError(table: String, rows: Iterable[Row]): MissingKeysAfterMergeError =
    new MissingKeysAfterMergeError(
      s"When reading from $table Some id's were returned as NA:\n${rows.mkString("\n")}\n" +
        "Check if the uniqueness assumptions you made in your database schema are correct, " +
        "or whether your made a mistake in your schema definitions somewhere.")

  /** Rows the driver holds, in Catalyst form: column `i` of `schema`
    * is value `at(i)` of each row. A row may hold more values than its
    * columns: the load cascade gives each row a free slot per step for
    * the id it appends ([[mergeIdRows]]) and drops columns by leaving
    * them out of `at` ([[dropRows]]), so no step rebuilds a row; rows of
    * `schema` alone are built once, by [[compact]]. Rows read from a
    * frame ([[distinctRows]]) hold [[normalized]] values.
    */
  private[graft] final case class Held(
      schema: StructType, at: IndexedSeq[Int], rows: IndexedSeq[GenericInternalRow]) {

    /** Each row's values at `at`, as a row of `schema`. */
    def compact: IndexedSeq[GenericInternalRow] = rows.map(gather(at))
  }

  private[graft] object Held {

    /** Rows whose values are the columns of `schema`, in order. */
    def apply(schema: StructType, rows: IndexedSeq[GenericInternalRow]): Held =
      Held(schema, schema.indices, rows)
  }

  /** A row's values at `at`, as one row: the row itself when those are
    * all its values, in order. As a key it compares null-safely, bytes
    * by content.
    */
  private def gather(at: IndexedSeq[Int]): GenericInternalRow => GenericInternalRow = {
    val idx = at.toArray
    val identity = idx.indices.forall(j => idx(j) == j)
    r =>
      if (identity && r.numFields == idx.length) r
      else {
        val values = r.values
        new GenericInternalRow(Array.tabulate[Any](idx.length)(j => values(idx(j))))
      }
  }

  /** `mergeIds(frameOf(held), frameOf(db), ...)` on the driver, for rows
    * the driver holds, the table columns `columns` the rows were
    * projected onto, and a read `db` of the table: each row once per id
    * its key matches, the id appended as the join appends it (nullable,
    * the database column's type), at value `slot` of the row, which no
    * column of `held` may use. A row takes its first id in place and is
    * copied for each further one; a row whose key matches none keeps a
    * null id. Then it raises [[mergeIds]]' errors from the rows it
    * threaded: the duplication guard first, then the first 20 rows with a
    * null id. No Spark job runs, unless [[idsOf]] finds keys only Spark
    * can match: then [[mergeIds]] runs over a frame of the rows, and its
    * cached result is collected and released.
    */
  private[graft] def mergeIdRows(
      spark: SparkSession,
      held: Held, columns: Seq[String], db: Held,
      alias: String,
      table: String,
      allowDuplication: Boolean,
      slot: Int,
  ): Held = {
    require(!held.at.contains(slot), s"Value $slot of each row must be free for the id.")
    val at = held.at :+ slot
    idsOf(held.schema, columns, db, alias) match {
      case Some((on, byKey)) =>
        val schema = StructType(held.schema.fields :+ db.schema(alias).copy(nullable = true))
        val key = gather(on.map(c => held.at(held.schema.fieldIndex(c))).toIndexedSeq)
        val noId = Vector(null)
        val missing = mutable.ArrayBuffer.empty[GenericInternalRow]
        val rows = held.rows.flatMap { r =>
          val ids = byKey.getOrElse(key(r), noId)
          if (ids.size > 1 && !allowDuplication) throw duplicatedIdsError
          ids.iterator.zipWithIndex.map { case (i, n) =>
            val row = if (n == 0) r else new GenericInternalRow(r.values.clone())
            row.update(slot, i)
            if (i == null && missing.size < 20) missing += row
            row
          }
        }
        if (missing.nonEmpty)
          throw missingKeysError(table, scalaRows(schema, Held(schema, at, missing.toIndexedSeq).compact))
        Held(schema, at, rows)
      case None =>
        val guarded = mergeIds(frameOf(spark, held), frameOf(spark, db), alias, table,
          allowDuplication)
        try {
          val width = held.rows.headOption.fold(0)(_.numFields)
          val types = guarded.schema.fields.map(_.dataType)
          Held(guarded.schema, at, Bridge.collectInternal(guarded).toIndexedSeq.map { r =>
            val values = new Array[Any](width)
            at.indices.foreach(j => values(at(j)) = if (r.isNullAt(j)) null else r.get(j, types(j)))
            new GenericInternalRow(values)
          })
        } finally guarded.unpersist()
    }
  }

  /** The join columns of [[mergeIds]] for a frame of schema `frame`
    * projected onto the table columns `columns`, against the read `db`,
    * and the ids it joins to each key on them, in read order: keys and
    * database rows match as the join matches them, the database side
    * cast as [[matchTypes]] casts it. A database value that does not
    * cast raises [[MatchDatatypesError]]. None when [[dbReaders]] finds
    * keys only Spark can match, or the id column is not named exactly.
    */
  private def idsOf(
      frame: StructType, columns: Seq[String], db: Held, alias: String,
  ): Option[(Seq[String], collection.Map[GenericInternalRow, Vector[Any]])] = {
    val on = columns.filter(db.schema.names.contains)
    for {
      read <- dbReaders(StructType(on.map(frame(_))), db, frame.names.diff(columns))
      id <- dbIndex(db.schema, alias)
    } yield {
      val ids = mutable.HashMap.empty[GenericInternalRow, Vector[Any]]
      val idAt = db.at(id)
      db.rows.foreach { row =>
        val key = new GenericInternalRow(read.map(_(row)))
        ids(key) = ids.getOrElse(key, Vector.empty) :+ row.values(idAt)
      }
      (on, ids)
    }
  }

  /** The distinct rows of `rows`, a frame's collected Catalyst rows of
    * schema `schema`: `dropDuplicates()` on the driver. Each value is
    * [[normalized]] here, once, so −0.0 and 0.0 are one row, as are all
    * NaNs; rows come out in the order of their first occurrence, each
    * with `spare` free values after its columns for the ids the load
    * cascade appends.
    */
  private[graft] def distinctRows(
      rows: Iterable[InternalRow], schema: StructType, spare: Int = 0,
  ): Held = {
    val types = schema.fields.map(_.dataType)
    val distinct = mutable.LinkedHashSet.empty[GenericInternalRow]
    rows.foreach { r =>
      val values = new Array[Any](types.length + spare)
      var i = 0
      while (i < types.length) {
        if (!r.isNullAt(i)) values(i) = normalized(r.get(i, types(i)))
        i += 1
      }
      // the free values are null in every row, so they leave the key alone
      distinct += new GenericInternalRow(values)
    }
    Held(schema, distinct.toIndexedSeq)
  }

  /** The distinct projection of `held` onto `columns`: [[getRows]] on
    * the driver, keyed on the held values with no conversion, in the
    * order of first occurrence.
    */
  private[graft] def distinctRows(held: Held, columns: Seq[String]): Held = {
    val at = columns.map(held.schema.fieldIndex)
    val key = gather(at.map(held.at).toIndexedSeq)
    val distinct = mutable.LinkedHashSet.empty[GenericInternalRow]
    held.rows.foreach(r => distinct += key(r))
    Held(StructType(at.map(held.schema(_))), distinct.toIndexedSeq)
  }

  /** [[dropReplaced]] of rows the driver holds: `held` without every
    * column the session's resolver matches to one of `columns`, as
    * `drop` drops them. Only `at` changes; no row is touched.
    */
  private[graft] def dropRows(held: Held, columns: Seq[String]): Held = {
    val resolver = SQLConf.get.resolver
    val keep = held.schema.indices.filterNot(i => columns.exists(resolver(held.schema(i).name, _)))
    if (keep.size == held.schema.size) held
    else Held(StructType(keep.map(held.schema(_))), keep.map(held.at), held.rows)
  }

  /** The rows of `rows` a conflict-ignoring insert may write into a
    * table whose rows, read before it, are `db`: each row but those
    * whose key `db` holds on every unique key set of `keySets`. With
    * no key set, every row. A row left out would have conflicted with
    * a stored row, so the insert could not have written it.
    *
    * Keys compare in the read's column types ([[presence]]), and any
    * doubt counts as absent: an extra row sent is one the insert then
    * ignores, while a row left out that the insert would have written
    * would be lost.
    */
  private[graft] def unwritten(rows: Held, db: Held, keySets: Seq[Seq[String]]): Held = {
    val present = keySets.map(presence(rows, db, _))
    if (present.isEmpty || present.exists(_.isEmpty)) rows
    else rows.copy(rows = rows.rows.filterNot(r => present.forall(_.get(r))))
  }

  /** Whether `db` holds a row's key on `keySet`, for the rows of
    * `rows`: the row's value in each key column, cast to the read's type
    * of that column, equals the read's value. A value that does not
    * cast exactly (its cast back differs), or a null, is never present,
    * as SQL's `=` never matches a null. None when no row can be present:
    * a key column is missing from either side, or the read's type of it
    * may hold less than the table does (a timestamp's nanoseconds, a
    * DECIMAL clamped to Spark's 38 digits).
    */
  private def presence(
      rows: Held, db: Held, keySet: Seq[String],
  ): Option[GenericInternalRow => Boolean] = {
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    // per key column, the row's value as the read types it, and where
    // the read holds that column
    val columns: Seq[Option[(InternalRow => Any, Int)]] = keySet.map { c =>
      (rows.schema.names.indexOf(c), dbIndex(db.schema, c)) match {
        case (f, Some(d)) if f >= 0 && readsExactly(db.schema(d).dataType) =>
          val ref = BoundReference(rows.at(f), rows.schema(f).dataType, nullable = true)
          val to = Cast(ref, db.schema(d).dataType, tz, EvalMode.TRY)
          val back = Cast(to, ref.dataType, tz, EvalMode.TRY)
          if (ref.dataType == to.dataType) Some(((r: InternalRow) => ref.eval(r), db.at(d)))
          else if (!to.resolved || !back.resolved) None
          else Some(((r: InternalRow) => {
            val v = to.eval(r)
            // exact: the value cast back is the value, as keys compare
            if (v != null && new GenericInternalRow(Array(back.eval(r))) ==
                new GenericInternalRow(Array(ref.eval(r)))) normalized(v)
            else null
          }, db.at(d)))
        case _ => None
      }
    }
    if (columns.exists(_.isEmpty)) None
    else {
      val (cast, dbAt) = columns.flatten.unzip
      val stored = new mutable.HashSet[GenericInternalRow]()
      db.rows.foreach { r =>
        val key = dbAt.map(i => normalized(r.values(i))).toArray
        if (!key.contains(null)) stored += new GenericInternalRow(key)
      }
      Some { r =>
        val key = cast.map(_(r)).toArray
        !key.contains(null) && stored.contains(new GenericInternalRow(key))
      }
    }
  }

  /** Whether a JDBC read of this type holds the stored value whole. */
  private def readsExactly(dt: DataType): Boolean = dt match {
    case TimestampType | TimestampNTZType => false
    case d: DecimalType                   => d.precision < DecimalType.MAX_PRECISION
    case _                                => true
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
      // each row as the caller's columns, without the side it came from
      def side(name: String) = diff.filter(_.getAs[String]("_side") == name)
        .map(r => Row.fromSeq(r.toSeq.init))
      val missing = side("data")
      val extra = side("db")
      if (missing.nonEmpty || extra.nonEmpty) throw noExactMatchError(missing, extra)
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

  private def noExactMatchError(missing: Iterable[Row], extra: Iterable[Row]): CompareNoExactMatchError =
    new CompareNoExactMatchError(
      "Datasets do not match exactly.\nRows in data and not in db:\n" +
        missing.mkString("\n") + "\nRows in db and not in data:\n" +
        extra.mkString("\n") +
        "\n\nConsider adding a WHERE clause to filter out irrelevant data." +
        "\nNote: if this happens due to your data containing missings and your " +
        "database not allowing those, set exact=False")

  /** `compareFrames(data, matchTypes(db, data.schema), exact = false)`
    * over rows the driver already holds, evaluated on the driver with
    * no Spark job: the same outcome, the same
    * [[CompareMissingRowsError]] text and the same MatchDatatypesError
    * label on an impossible cast. For flat schemas, as JDBC reads are.
    *
    * Each database column is read as its data column's type by
    * [[castReader]], and the database rows are keyed in a hash set:
    * `GenericInternalRow` equality is null-safe and compares byte arrays
    * by content. The data rows key on their held values. Data rows
    * holding a null or NaN are dropped first, as `na.drop()` does; the
    * first 20 distinct missing rows are reported in data order.
    */
  private[graft] def containsRows(data: Held, db: Held): Unit = {
    val resolver = SQLConf.get.resolver
    val fromDb: Array[InternalRow => Any] = data.schema.fields.map { f =>
      val i = db.schema.fields.indexWhere(d => resolver(d.name, f.name))
      require(i >= 0, s"Column `${f.name}` is missing from the database rows.")
      castReader(db, i, f.dataType).getOrElse(throw new IllegalArgumentException(
        s"Column `${f.name}` does not cast from ${db.schema(i).dataType.sql} to ${f.dataType.sql}."))
    }
    val missing = missingRows(data, keyRows(db, fromDb), skipNulls = true, limit = 20)
    if (missing.nonEmpty) throw missingRowsError(scalaRows(data.schema, missing))
  }

  /** D2 of the loader: `compareFrames(frameOf(rows), matchTypes(
    * frameOf(db), rows.schema), exact)` for distinct rows the driver
    * holds and the database's read `db`, after asserting that the
    * database returned rows, and (when `rows` is non-empty and
    * null-free) at least as many as `rows`. Decided on the driver, with
    * [[compareFrames]]' errors: the first 20 rows missing from the
    * database rows read as its columns ([[dbReaders]]), in data order,
    * and with `exact` the first 20 distinct database keys missing from
    * the rows, in read order; those are looked for only when the keys
    * outnumber the rows. [[compareFrames]] runs, over frames of the rows
    * the driver holds, only for keys only Spark can match.
    */
  private[graft] def compareRows(spark: SparkSession, rows: Held, db: Held, exact: Boolean): Unit = {
    val dbCount = db.rows.size
    assert(dbCount > 0, "Compare query yielded no results.")
    if (rows.rows.nonEmpty && !rows.rows.exists(r => rows.at.exists(r.isNullAt)))
      assert(dbCount >= rows.rows.size, s"Compare query yielded fewer rows ($dbCount) than data.")
    dbReaders(rows.schema, db) match {
      case Some(read) =>
        val keys = keyRows(db, read)
        val missing = scalaRows(rows.schema, missingRows(rows, keys, skipNulls = !exact, limit = 20))
        if (!exact && missing.nonEmpty) throw missingRowsError(missing)
        if (exact && (missing.nonEmpty || keys.size != rows.rows.size)) {
          val data = rows.rows.iterator.map(gather(rows.at)).toSet
          val extra = db.rows.iterator.map(r => new GenericInternalRow(read.map(_(r))))
            .filterNot(data.contains).distinct.take(20).toSeq
          throw noExactMatchError(missing, scalaRows(rows.schema, extra))
        }
      case None =>
        compareFrames(frameOf(spark, rows), matchTypes(frameOf(spark, db), rows.schema), exact = exact)
    }
  }

  /** Catalyst rows of `schema` as `Row`s, as `collect` returns them. */
  private def scalaRows(schema: StructType, rows: Iterable[InternalRow]): Seq[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    rows.map(toRow(_).asInstanceOf[Row]).toSeq
  }

  /** Up to `limit` distinct rows of `data` whose key is not in `db`, in
    * data order; with `skipNulls`, rows holding a null or NaN are
    * skipped, as `na.drop()` drops them.
    */
  private def missingRows(
      data: Held, db: collection.Set[GenericInternalRow], skipNulls: Boolean, limit: Int,
  ): collection.Set[GenericInternalRow] = {
    val key = gather(data.at)
    val missing = mutable.LinkedHashSet.empty[GenericInternalRow]
    val it = data.rows.iterator
    while (missing.size < limit && it.hasNext) {
      val k = key(it.next())
      if (!(skipNulls && k.values.exists(isNullOrNaN)) && !db.contains(k)) missing += k
    }
    missing
  }

  /** One-partition frame over rows the driver holds. */
  private[graft] def frameOf(spark: SparkSession, held: Held): DataFrame =
    Bridge.scanFrame(spark, held.compact, held.schema)

  /** The frame `Connector.load` returns: a local one whose plan holds
    * `held`'s rows, built as rows of its schema alone, once.
    */
  private[graft] def localFrame(spark: SparkSession, held: Held): DataFrame =
    Bridge.localFrame(spark, held.compact, held.schema)

  /** The database rows as keys: each row's values read by `read`. */
  private def keyRows(
      db: Held, read: Array[InternalRow => Any],
  ): mutable.HashSet[GenericInternalRow] = {
    val keys = new mutable.HashSet[GenericInternalRow]()
    db.rows.foreach(row => keys += new GenericInternalRow(read.map(_(row))))
    keys
  }

  /** How the driver reads database rows as keys on the columns of `on`,
    * as Spark's join or `except` matches them: per column, a
    * [[castReader]] of the database column `matchTypes` casts and
    * `select` then finds for it. None for the keys only Spark can
    * decide, which its operator then decides:
    *   - a type that is nested or has a non-binary collation;
    *   - a column missing from `db`, ambiguous under the session's
    *     resolver, or not named exactly (`matchTypes` would leave it
    *     uncast);
    *   - a cast Spark rejects;
    *   - a column of `outside`, the frame's columns beyond `on`, that
    *     `db` names too (the join would match on it).
    */
  private def dbReaders(
      on: StructType, db: Held, outside: Seq[String] = Nil,
  ): Option[Array[InternalRow => Any]] = {
    val readers = on.fields.map { f =>
      val keyable = f.dataType match {
        case s: StringType => s == StringType // the UTF8_BINARY collation
        case _: NumericType | BinaryType | BooleanType | DateType | TimestampType |
            TimestampNTZType => true
        case _             => false
      }
      if (!keyable) None
      else dbIndex(db.schema, f.name).flatMap(castReader(db, _, f.dataType))
    }
    if (readers.forall(_.isDefined) && !outside.exists(db.schema.names.contains))
      Some(readers.map(_.get))
    else None
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
  private def castReader(db: Held, i: Int, dt: DataType): Option[InternalRow => Any] = {
    val conf = SQLConf.get
    val tz = Some(conf.sessionLocalTimeZone)
    val ref = BoundReference(db.at(i), db.schema(i).dataType, nullable = true)
    if (ref.dataType == dt) Some(r => normalized(ref.eval(r)))
    else {
      val guard = Cast(ref, dt, tz, EvalMode.TRY)
      val cast = Cast(ref, dt, tz, EvalMode.fromSQLConf(conf))
      val (before, after) = uncastable(db.schema(i).name, dt)
      if (!guard.resolved || !cast.resolved) None
      else Some(r =>
        if (!r.isNullAt(ref.ordinal) && guard.eval(r) == null)
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
