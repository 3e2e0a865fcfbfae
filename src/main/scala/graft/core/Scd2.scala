package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD-type-2 snapshot versioning — the Spark-native equivalent of the
  * SCDB `update_snapshot` layer the reference stores every feature table
  * through (reference: R/DiseasystoreBase.R:195-239, checksum/from_ts/
  * until_ts columns; time travel via `slice_ts`).
  *
  * A versioned table carries the data columns plus:
  *   - `checksum`: md5 over the data columns (md5 so an external SQL
  *     engine can reproduce it bit-for-bit)
  *   - `from_ts` / `until_ts`: transaction-time validity (timestamp
  *     strings; `until_ts` NULL = current)
  *
  * Scale: `updateSnapshot` is one shuffle of the open versions plus the
  * incoming rows by checksum, with one window over it — closed history
  * streams through unshuffled, no joins, no driver materialization.
  * Occurrence numbers make it multiset-safe (duplicate rows pair up
  * 1:1).
  */
object Scd2 {
  val FromTs = "from_ts"
  val UntilTs = "until_ts"
  val Checksum = "checksum"

  /** md5 checksum over the given columns; nulls get a sentinel so
    * (NULL) and ("") differ. The ordered COLUMN LIST is hashed in as a
    * schema fingerprint: after an additive schema evolution the same
    * logical row under the widened schema checksums differently, so the
    * next merge closes every old-shape version and inserts new-shape
    * ones — a schema change is a version event, visible to time
    * travel, never a silent reinterpretation. Avoid floating-point
    * columns here — their string rendering is engine-specific.
    *
    * STORE-FORMAT NOTE: prepending the fingerprint changed the checksum
    * of every row relative to stores written before it existed, so the
    * first merge over such a store closes and re-inserts every current
    * version — one spurious whole-table transaction-time event.
    * Acceptable pre-release; a deployed upgrade would version the
    * checksum scheme per table (e.g. a `checksum_v` table property)
    * and keep hashing old tables the old way. */
  def checksum(cols: Seq[String]): Column =
    md5(concat_ws("||",
      lit(cols.mkString(",")) +:
        cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))

  /** Merge `incoming` (the freshly computed feature rows) into `current`
    * (the versioned table; pass None to initialize) at transaction time
    * `ts`:
    *   - current rows absent from incoming are closed (`until_ts = ts`)
    *   - incoming rows absent from current are inserted (`from_ts = ts`)
    *   - unchanged rows are carried over untouched.
    */
  def updateSnapshot(
      current: Option[DataFrame],
      incoming: DataFrame,
      ts: String,
      dataCols: Seq[String]): DataFrame = {

    val inserted = incoming.select(dataCols.map(col): _*)
      .withColumn(Checksum, checksum(dataCols))
      .withColumn(FromTs, lit(ts))
      .withColumn(UntilTs, lit(null).cast("string"))

    current match {
      case None => inserted
      case Some(cur) =>
        // one window per checksum over the open versions and the
        // incoming rows, current side first and oldest `from_ts` first:
        // the oldest current copies pair with incoming ones and are
        // kept, the newest surplus copies are closed, and only the
        // incoming copies beyond the current count are inserted
        val side = "__inc"
        val w = Window.partitionBy(col(Checksum))
          .orderBy(col(side), col(FromTs))
        val all = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        val (occ, nCur, nInc) = (col("__occ"), col("__n_cur"), col("__n_inc"))
        val open = cur.filter(col(UntilTs).isNull)
          .withColumn(side, lit(false))
          .unionByName(inserted.withColumn(side, lit(true)))
          .select(col("*"), row_number().over(w).as("__occ"),
            count(when(!col(side), 1)).over(all).as("__n_cur"),
            count(when(col(side), 1)).over(all).as("__n_inc"))
          .filter(!col(side) || occ - nCur > nCur)
          .withColumn(UntilTs,
            when(!col(side) && occ > nInc, lit(ts)).otherwise(col(UntilTs)))
          .drop(side, "__occ", "__n_cur", "__n_inc")
        cur.filter(col(UntilTs).isNotNull).unionByName(open)
    }
  }

  /** Time travel: the table as it was at transaction time `ts`
    * (reference: SCDB `get_table(slice_ts)` used at R/DiseasystoreBase.R:199-204). */
  def sliceAt(versioned: DataFrame, ts: String): DataFrame =
    versioned.filter(
      col(FromTs) <= lit(ts) && (col(UntilTs) > lit(ts) || col(UntilTs).isNull))

  /** Smallest transaction-time tick strictly after `ts`, for clamping
    * a lagging wall clock past a table's persisted high-water mark.
    * Transaction times are compared as STRINGS everywhere else, so the
    * tick must only be lexicographically-after and format-stable:
    * second/millisecond timestamps advance by 1 ms, date-only strings
    * get just-past-midnight, and any other opaque string falls back to
    * a '~' suffix (0x7E sorts after every character the timestamp
    * alphabet uses) — the clamp path must never throw on data the
    * store happily persisted. */
  def tickAfter(ts: String): String = {
    val parse = new java.time.format.DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd HH:mm:ss")
      .optionalStart()
      .appendFraction(java.time.temporal.ChronoField.MILLI_OF_SECOND,
        1, 3, true)
      .optionalEnd()
      .toFormatter
    try
      java.time.LocalDateTime.parse(ts, parse).plusNanos(1000000L)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    catch { case _: java.time.format.DateTimeParseException =>
      if (ts.matches("""\d{4}-\d{2}-\d{2}""")) s"$ts 00:00:00.001"
      else ts + "~"
    }
  }

  /** Audit view: version rows whose lifecycle changed in the
    * transaction-time window (ts1, ts2] — `opened` (inserted), `closed`
    * (superseded/deleted), or `opened_closed` (both within the window).
    * The change-data-capture companion of `sliceAt`: what did the feed
    * do to this table between two points in transaction time? */
  def changesBetween(versioned: DataFrame, ts1: String,
                     ts2: String): DataFrame = {
    val opened = col(FromTs) > lit(ts1) && col(FromTs) <= lit(ts2)
    val closed = col(UntilTs).isNotNull &&
      col(UntilTs) > lit(ts1) && col(UntilTs) <= lit(ts2)
    versioned.filter(opened || closed)
      .withColumn("change",
        when(opened && closed, "opened_closed")
          .when(opened, "opened")
          .otherwise("closed"))
  }
}
