package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.cleaning

/** The reference's ingest flow E1 (SURVEY.md §3):
  * CSV → forced schema → drop extra columns → multi-format date/time parse →
  * text null-normalization → drop unparseable rows → recombine DateTime →
  * watermark filter → keyed upsert.
  *
  * Reference: `GCP Pipeline 2025/MySQL Data Push Scripts/main.py:194-228`
  * (read `:205-207`, drops `:210-212`, parse `:214-218`, dropna `:220`,
  * watermark `:161-166`, upsert `:175-188`).
  *
  * Scale notes (100 TB):
  *  - the whole clean path is one narrow projection stage — no shuffle until
  *    the upsert's anti-join; Catalyst fuses it into a single codegen stage
  *    over the CSV scan.
  *  - the upsert anti-join shuffles both sides on the logical key; on a real
  *    deployment the existing table would be bucketed by the key so only the
  *    (small, monthly) incoming batch moves. Last-write-wins within a batch
  *    is a per-key window over the batch only — never over the full table.
  *  - the watermark is one tiny scalar aggregate on the existing snapshot
  *    (date-partition-prunable on a partitioned table), broadcast into a
  *    non-equi join — the same shape as f13.
  */
object Ingest {

  /** SRC2 — the 10 forced raw CSV columns (main.py:205-207). */
  val rawColumns: Seq[String] = Seq(
    "Date", "Time", "Currency", "Event", "Impact",
    "Actual", "Forecast", "Previous", "IsHoliday", "WeekRange")

  val rawSchema: StructType =
    StructType(rawColumns.map(StructField(_, StringType, nullable = true)))

  /** SRC2 — headerless CSV read with the forced schema: never inferred,
    * quoted fields, leading-whitespace tolerant (main.py:205-207). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(rawSchema)
      .option("header", "false")
      .option("quote", "\"")
      .option("ignoreLeadingWhiteSpace", "true")
      .csv(path)

  /** SRC1 — blob listing + pick-first (main.py:116-124): list the landing
    * prefix, keep `*.csv`, process the lexicographically FIRST blob only.
    *
    * The listing happens driver-side through the Hadoop FileSystem API —
    * the same listing `spark.read` would do to resolve the glob (and the
    * same shape as the reference's client.list_blobs) — and then ONLY the
    * chosen file is scanned. The previous form scanned every file under
    * the prefix (once for min(input_file_name), once for the join) and
    * discarded all but one file's rows; on a fat landing prefix that reads
    * the whole directory to keep one blob. One listing RPC + one
    * single-file scan is the plan that survives scale. */
  def readFirstCsv(spark: SparkSession, dir: String): DataFrame = {
    val glob = new org.apache.hadoop.fs.Path(s"$dir/*.csv")
    val fs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Mirror Spark's own InMemoryFileIndex conventions: only FILES, and
    // skip '_'/'.'-prefixed names (in-progress markers like _temporary,
    // hidden files) — a raw globStatus would happily pick '_tmp.csv',
    // which the scan-based listing this replaced could never see.
    val matches = Option(fs.globStatus(glob)).map(_.toSeq).getOrElse(Seq.empty)
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
    require(matches.nonEmpty, s"no *.csv under $dir (main.py:116-124 picks " +
      "the first listed blob; an empty listing has nothing to pick)")
    val first = matches.map(_.getPath.toString).min
    readCsv(spark, first)
  }

  /** P1 + F2/F3 + F5 + F8 + F4 — the cleaning chain (main.py:210-220 +
    * import_data_to_database:156). One narrow projection pipeline:
    * drop extras, parse Date (9 formats) / Time (2 formats), normalize the
    * six text columns, drop rows with unparseable Date/Time, recombine
    * EventTime. Output schema: EventTime ts_ntz, Date date, Time string,
    * Currency/Event/Impact/Actual/Forecast/Previous string. */
  def clean(raw: DataFrame): DataFrame =
    raw
      .drop("IsHoliday", "WeekRange") // P1 (main.py:210-212)
      .withColumn("DateParsed", cleaning.parseDate(col("Date")))
      .withColumn("TimeParsed", cleaning.parseTime(col("Time")))
      .withColumn("Currency", cleaning.cleanText(col("Currency")))
      .withColumn("Event", cleaning.cleanText(col("Event")))
      .withColumn("Impact", cleaning.cleanText(col("Impact")))
      .withColumn("Actual", cleaning.cleanText(col("Actual")))
      .withColumn("Forecast", cleaning.cleanText(col("Forecast")))
      .withColumn("Previous", cleaning.cleanText(col("Previous")))
      .na.drop(Seq("DateParsed", "TimeParsed")) // F8 (main.py:220)
      .withColumn("EventTime",
        cleaning.combineDateTime(col("DateParsed"), col("TimeParsed"))) // F4
      .select(col("EventTime"), col("DateParsed").as("Date"),
        col("TimeParsed").as("Time"), col("Currency"), col("Event"),
        col("Impact"), col("Actual"), col("Forecast"), col("Previous"))

  /** A7 — scalar ingest watermark: max event time of the existing snapshot,
    * as a 1-row frame suitable for a broadcast non-equi join (main.py:162). */
  def watermark(existing: DataFrame, tsCol: String, slack: Column): DataFrame =
    existing.agg((max(col(tsCol)) - slack).as("__wm"))

  /** F13 — keep only incoming rows strictly newer than the watermark
    * (main.py:161-166; late rows are silently dropped, by design).
    * FIRST-RUN CASE: an empty existing snapshot aggregates max(ts) to
    * NULL; the reference skips the filter entirely then (`if last_ts:`,
    * main.py:164), so a NULL watermark keeps every incoming row — a bare
    * `ts > NULL` join would invert that and drop the whole batch. */
  def watermarkFilter(incoming: DataFrame, existing: DataFrame,
                      tsCol: String, slack: Column): DataFrame =
    incoming
      .join(broadcast(watermark(existing, tsCol, slack)),
        col("__wm").isNull || col(tsCol) > col("__wm"), "inner")
      .drop("__wm")

  /** SNK1 — keyed upsert as anti-join + union (`INSERT … ON DUPLICATE KEY
    * UPDATE`, main.py:175-188). In-batch duplicates resolve last-write-wins
    * in `orderCol` order, mirroring ON DUPLICATE KEY applied in insert
    * order. Existing rows whose key appears in the batch are replaced. */
  def upsert(existing: DataFrame, incoming: DataFrame,
             key: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(col(orderCol).desc)
    val lastPerKey = incoming
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    existing
      .join(lastPerKey, key, "left_anti")
      .unionByName(lastPerKey)
  }

  /** E1 composed: watermark-filter the incoming batch against the existing
    * snapshot, then upsert the survivors (main.py:153-191). */
  def upsertWithWatermark(existing: DataFrame, incoming: DataFrame,
                          key: Seq[String], tsCol: String, orderCol: String,
                          slack: Column): DataFrame =
    upsert(existing, watermarkFilter(incoming, existing, tsCol, slack),
      key, orderCol)
}
