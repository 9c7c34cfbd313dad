package graft

import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The value-based type-sniffing ladder (≙ `internal/target/pgsql.go:
  * 326-363`), the datetime `'T'`→`' '` normalization (pgsql.go:288-290),
  * and the batch imports. Streaming xml/yaml decoding is covered by
  * XmlYamlChangelogSpec.
  */
class SourcesAndCodecsSpec extends SparkSpec {

  test("sniffTypes: all-match columns cast; nulls ignored; mixed stays string") {
    import spark.implicits._
    val df = Seq(
      ("2024-01-01", "2024-01-01T10:00:00", "2024-01-01", null.asInstanceOf[String]),
      ("2024-02-02", "2024-02-02 11:00:00", "oops", null.asInstanceOf[String]),
      ("2024-03-03", null, "2024-03-03", null.asInstanceOf[String]),
      ("2024-04-04", "2024-01-31 12:30:00.123Z", "2024-04-04", null.asInstanceOf[String]))
      .toDF("d", "t", "mixed", "allnull")
    val out = Sources.sniffTypes(df)
    assert(out.schema("d").dataType === DateType)
    assert(out.schema("t").dataType === TimestampType) // null ignored
    assert(out.schema("mixed").dataType === StringType)
    assert(out.schema("allnull").dataType === StringType) // no evidence -> varchar
    // 'T' separator normalized to space before the cast (pgsql.go:288-290)
    val ts = out.select(col("t").cast("string")).collect().map(_.getString(0))
    assert(ts.contains("2024-01-01 10:00:00"))
  }

  test("sniffTypes: empty DataFrame is a no-op, not an NPE") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("a", "b")
    val out = Sources.sniffTypes(empty)
    assert(out.schema("a").dataType === StringType)
    assert(out.count() === 0L)
  }

  test("batch import into the lake: keyed upsert, idempotent, later batch wins") {
    import spark.implicits._
    val dir = tmpDir("imp")
    val spec = graft.spec.PipelineSpec.fromYaml(
      s"""stream:
         |  name: imp-test
         |  instance:
         |    source: { type: csv, specs: { path: unused } }
         |    target: { type: lake, specs: { path: $dir/lake, keyColumns: [k], numBuckets: 4 } }
         |""".stripMargin)
    val df1 = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val st1 = graft.Main.importBatch(spark, df1, spec, 0L)
    assert(st1.upserted === 2L)
    // re-running the same batch id is an exactly-once no-op
    assert(graft.Main.importBatch(spark, df1, spec, 0L).skippedAsApplied)
    // a later batch (higher id = higher lsn) REPLACEs per key
    val df2 = Seq(("b", 20L), ("c", 3L)).toDF("k", "v")
    graft.Main.importBatch(spark, df2, spec, 1L)
    val lake = graft.lake.LakeTable(spark, s"$dir/lake")
    val rows = lake.read().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows === Map("a" -> 1L, "b" -> 20L, "c" -> 3L))
  }

  test("jsonlSplit: malformed lines split off with their raw text") {
    import spark.implicits._
    val dir = tmpDir("jsonl-split")
    Seq("""{"a": 1, "b": "x"}""", """{"a": 2, "b": "y"}""", """{"a": broken""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val schema = Sources.inferJsonlSchema(spark, dir)
    assert(!schema.fieldNames.contains("_corrupt_record"))
    val (good, bad) = Sources.jsonlSplit(spark, dir, schema)
    assert(good.count() === 2L)
    assert(bad.count() === 1L)
    assert(bad.select("raw").head().getString(0).startsWith("""{"a": broken"""))
  }

  test("a re-run jsonl import writes each malformed line to the DLQ once") {
    import spark.implicits._
    val dir = tmpDir("jsonl-import-dlq")
    Seq("""{"a": 1, "b": "x"}""", """{"a": broken""", """{"a": 2, "b": "y"}""",
      """{"b": also broken""")
      .toDF("value").coalesce(1).write.text(s"$dir/in")
    val spec = graft.spec.PipelineSpec.fromYaml(
      s"""stream:
         |  name: jsonl-import
         |  instance:
         |    source: { type: jsonl, specs: { path: $dir/in } }
         |    target: { type: lake, specs: { path: $dir/lake, keyColumns: [__key], numBuckets: 2 } }
         |    dlq: { type: files, specs: { path: $dir/dlq } }
         |""".stripMargin)
    // one import, run twice with the same batch id (what `start` does)
    val runs = (1 to 2).map { _ =>
      graft.Main.importBatch(spark, graft.Main.jsonlImport(spark, spec, 7L), spec, 7L)
    }
    assert(runs.map(_.skippedAsApplied) === Seq(false, true))
    val dlq = spark.read.parquet(s"$dir/dlq")
    assert(dlq.columns.toSet === Set("raw", "dlq_ts"))
    assert(dlq.select("raw").collect().map(_.getString(0)).toSeq.sorted ===
      Seq("""{"a": broken""", """{"b": also broken"""))
    assert(graft.lake.LakeTable(spark, s"$dir/lake").read().count() === 2L)
  }
}
