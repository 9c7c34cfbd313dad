package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch connectors for reference fidelity (SURVEY.md §2.1). These mirror
  * the observable record semantics of the reference's file sources, not
  * their line-at-a-time execution.
  */
object Sources {

  /** Column-name normalization: lowercase + spaces→underscores, the
    * draethos CSV header rule (`internal/source/csv.go:122`).
    */
  def normalizeHeader(name: String): String =
    name.toLowerCase.replace(" ", "_")

  /** Key derivation for keyless rows: md5 of all row values concatenated
    * with no separator, in column order (`internal/source/csv.go:137`:
    * `md5.Sum(strings.Join(records, ""))`). Null renders as empty.
    */
  def md5RowKey(df: DataFrame, cols: Seq[String]): org.apache.spark.sql.Column =
    md5(concat(cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*))

  /** CSV source ≙ `internal/source/csv.go:40-157`: header row becomes
    * normalized column names; every row gets an md5-of-joined-values
    * `__key` column. Scales as a plain distributed scan — no driver loop.
    */
  def csv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("header", "true").csv(path)
    val renamed = raw.toDF(raw.columns.map(normalizeHeader).toIndexedSeq: _*)
    renamed.withColumn("__key", md5RowKey(renamed, renamed.columns.toSeq))
  }

  /** Inferred line schema minus Spark's synthetic corrupt-record column
    * (malformed lines are routed by `jsonlSplit`, not carried as a field).
    */
  def inferJsonlSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      spark.read.json(path).schema.fields.filterNot(_.name == "_corrupt_record"))

  /** JSONL batch read split into (parsed rows, malformed lines), each
    * keyed by md5(raw line) ≙ `internal/source/jsonl.go:110`. The DLQ
    * path for batch imports — the reference logs-and-drops bad records
    * (`internal/source/kafka.go:93-97`) and never writes its configured
    * DLQ; we route them for real.
    */
  def jsonlSplit(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    val raw = spark.read.text(path)
      .withColumn("__key", md5(col("value")))
      .withColumn("__rec", from_json(col("value"), schema))
    // PERMISSIVE from_json yields an all-null row (not a null struct) for
    // a malformed line — classify by "at least one field parsed"
    val parsed = schema.fieldNames.toSeq
      .map(n => col(s"__rec.$n").isNotNull).reduce(_ || _)
    val good = raw.filter(parsed)
      .select((col("__key") +: schema.fieldNames.toSeq.map(n => col(s"__rec.$n"))): _*)
    val bad = raw.filter(!parsed)
      .select(col("value").as("raw"), col("__key"))
    (good, bad)
  }

  // -- value-based type sniffing (≙ reference DDL inference) -------------------

  /** The reference's date/datetime regex ladder, applied at sink-write time
    * to pick column DDL (`internal/target/pgsql.go:326-363`):
    * `YYYY-MM-DD` → DATE; ISO datetime (T or space separated, optional
    * fraction) → TIMESTAMP. Its len > 255 → TEXT rung is the JDBC sink's
    * CLOB probe (`JdbcUpsert.longStringCols`).
    */
  private val DateRe = "^\\d{4}-\\d{2}-\\d{2}$"
  private val DateTimeRe =
    "^\\d{4}-\\d{2}-\\d{2}[T ]\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z)?$"

  /** Apply the type ladder to every string column of a DataFrame: a column
    * whose non-null values ALL match the date (resp. datetime) regex is
    * cast to DateType (resp. TimestampType) — the distributed analog of the
    * reference's per-value DDL sniffing, decided per column instead of
    * per record (per-record DDL flapping is a reference bug we don't keep).
    * One aggregation pass; cheap at any scale.
    */
  def sniffTypes(df: DataFrame): DataFrame = sniffTypes(df, None)

  /** As [[sniffTypes]], but restricted to `onlyCols` when given — the lake
    * uses this to type-sniff DRIFT columns at major compaction without
    * touching deliberately-string base columns.
    */
  def sniffTypes(df: DataFrame, onlyCols: Option[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
      .filter(c => onlyCols.forall(_.contains(c)))
    if (strCols.isEmpty) return df
    // per column: `__d/__t` = every NON-NULL value matches (nulls vacuously
    // pass — they render as SQL NULL, carrying no type evidence);
    // `__dAny/__tAny` = at least one non-null match exists, so an all-null
    // or empty column stays varchar instead of being vacuously "all dates"
    val checks = strCols.flatMap { c =>
      Seq(
        min(when(col(c).isNull, lit(true)).otherwise(col(c).rlike(DateRe)))
          .as(s"${c}__d"),
        max(coalesce(col(c).rlike(DateRe), lit(false))).as(s"${c}__dAny"),
        min(when(col(c).isNull, lit(true)).otherwise(col(c).rlike(DateTimeRe)))
          .as(s"${c}__t"),
        max(coalesce(col(c).rlike(DateTimeRe), lit(false))).as(s"${c}__tAny"))
    }
    val row = df.agg(checks.head, checks.tail.toIndexedSeq: _*).head()
    // an empty DataFrame aggregates to NULL mins — treat as "no evidence"
    def isTrue(n: String): Boolean =
      java.lang.Boolean.TRUE.equals(row.getAs[Any](n))
    strCols.foldLeft(df) { (d, c) =>
      if (isTrue(s"${c}__d") && isTrue(s"${c}__dAny"))
        d.withColumn(c, to_date(col(c)))
      else if (isTrue(s"${c}__t") && isTrue(s"${c}__tAny"))
        d.withColumn(c, to_timestamp(regexp_replace(col(c), "T", " ")))
      else d
    }
  }
}
