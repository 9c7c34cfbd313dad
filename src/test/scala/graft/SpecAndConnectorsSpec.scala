package graft

import graft.sinks.Sinks
import graft.sources.Sources
import graft.spec.PipelineSpec
import org.apache.spark.sql.functions._

class SpecAndConnectorsSpec extends SparkSpec {

  private val yaml =
    """stream:
      |  name: k2p
      |  checkpointDir: /tmp/ck
      |  instance:
      |    source:
      |      type: changelog
      |      specs:
      |        path: /data/log
      |        maxFilesPerTrigger: 7
      |    target:
      |      type: lake
      |      specs:
      |        path: /data/lake
      |        keyColumns: [repo, path]
      |        numBuckets: 64
      |        batchSize: 100
      |    dlq:
      |      type: files
      |      specs:
      |        path: /data/dlq
      |""".stripMargin

  test("pipeline YAML parses to the spec model") {
    val s = PipelineSpec.fromYaml(yaml)
    assert(s.name === "k2p")
    assert(s.instance.source.tpe === "changelog")
    assert(s.instance.source.maxFilesPerTrigger === 7)
    assert(s.instance.target.numBuckets === 64)
    assert(s.instance.target.keyColumns === Seq("repo", "path"))
    assert(s.instance.dlq.exists(_.path === "/data/dlq"))
  }

  test("r3 spec fields parse: dedupStateTtlMs, rollup target window/watermark") {
    val s = PipelineSpec.fromYaml(
      """stream:
        |  name: roll
        |  instance:
        |    source:
        |      type: changelog
        |      specs: { path: /data/log }
        |    target:
        |      type: rollup
        |      specs: { path: /data/out, window: 15 minutes, watermark: 2 minutes }
        |""".stripMargin)
    assert(s.instance.target.tpe === "rollup")
    assert(s.instance.target.window === "15 minutes")
    assert(s.instance.target.watermark === "2 minutes")
    // rollup requires a sink path
    val bad = intercept[IllegalArgumentException](PipelineSpec.fromYaml(
      """stream:
        |  name: roll
        |  instance:
        |    source: { type: changelog, specs: { path: /data/log } }
        |    target: { type: rollup, specs: { window: 1 hour } }
        |""".stripMargin))
    assert(bad.getMessage.contains("rollup target requires specs.path"))
    // the removed dedup-state TTL fails fast instead of vanishing
    val ttl = intercept[IllegalArgumentException](PipelineSpec.fromYaml(
      """stream:
        |  name: roll
        |  instance:
        |    source: { type: changelog, specs: { path: /data/log, format: jsonl, dedupStateTtlMs: 3600000 } }
        |    target: { type: lake, specs: { path: /data/lake } }
        |""".stripMargin))
    assert(ttl.getMessage.contains("dedupStateTtlMs was removed"))
  }

  test("unknown source/target/codec types fail fast like the reference dispatchers") {
    val badTarget = yaml.replace("type: lake", "type: gcloudstorage")
    val e1 = intercept[IllegalArgumentException](PipelineSpec.fromYaml(badTarget))
    assert(e1.getMessage.contains("gcloudstorage not implemented"))
    val badSource = yaml.replace("type: changelog", "type: rabbitmq")
    val e2 = intercept[IllegalArgumentException](PipelineSpec.fromYaml(badSource))
    assert(e2.getMessage.contains("rabbitmq not implemented"))
    val e3 = intercept[IllegalArgumentException](
      PipelineSpec.fromYamlFile("/tmp/pipeline.json"))
    assert(e3.getMessage.contains("extension"))
    val badCodec = yaml.replace("maxFilesPerTrigger: 7", "maxFilesPerTrigger: 7\n        codec: avro")
    val e4 = intercept[IllegalArgumentException](PipelineSpec.fromYaml(badCodec))
    assert(e4.getMessage.contains("codec avro not implemented"))
  }

  test("http source + jdbc target spec fields parse; jdbc validation fails fast") {
    val s = PipelineSpec.fromYaml(
      """stream:
        |  name: hooks
        |  port: 9090
        |  instance:
        |    source:
        |      type: http
        |      specs: { path: /data/spool, endpoint: /hook, methods: [post], batchSize: 7 }
        |    target:
        |      type: jdbc
        |      specs: { url: "jdbc:derby:memory:x", table: t, mode: insertIfAbsent, keyColumns: [k] }
        |""".stripMargin)
    assert(s.port === 9090)
    assert(s.instance.source.endpoint === "/hook")
    assert(s.instance.source.methods === Seq("POST")) // upper-cased
    assert(s.instance.source.batchSize === 7)
    assert(s.instance.target.url === "jdbc:derby:memory:x")
    assert(s.instance.target.mode === "insertIfAbsent")
    // jdbc target without url/table or with a bogus mode fails at parse
    def tgt(spec: String) =
      s"""stream:
         |  name: x
         |  instance:
         |    source: { type: jsonl, specs: { path: /in } }
         |    target: { type: jdbc, specs: { $spec } }
         |""".stripMargin
    val e1 = intercept[IllegalArgumentException](
      PipelineSpec.fromYaml(tgt("table: t")))
    assert(e1.getMessage.contains("url"))
    val e2 = intercept[IllegalArgumentException](
      PipelineSpec.fromYaml(tgt("url: u")))
    assert(e2.getMessage.contains("table"))
    val e3 = intercept[IllegalArgumentException](
      PipelineSpec.fromYaml(tgt("url: u, table: t, mode: merge")))
    assert(e3.getMessage.contains("mode merge not implemented"))
  }

  test("csv source: messy headers normalized, md5 row key like csv.go") {
    val dir = tmpDir("csvsrc")
    val f = new java.io.File(dir, "in.csv")
    java.nio.file.Files.writeString(f.toPath,
      "Cod Mun,Nome Mun,Faixa Pop\n1200013,Acrelandia,Ate 5000\n1200054,Assis Brasil,5001 a 10000\n")
    val df = Sources.csv(spark, f.getAbsolutePath)
    assert(df.columns.toSeq === Seq("cod_mun", "nome_mun", "faixa_pop", "__key"))
    val rows = df.orderBy("cod_mun").collect()
    assert(rows.length === 2)
    // md5 over values joined with no separator (csv.go:137)
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("1200013AcrelandiaAte 5000".getBytes)
      .map("%02x".format(_)).mkString
    assert(rows.head.getAs[String]("__key") === expect)
  }

  test("jsonl source: key = md5(raw line), fields parsed") {
    val dir = tmpDir("jsonlsrc")
    val f = new java.io.File(dir, "in.jsonl")
    val l1 = """{"a":1,"b":"x"}"""
    val l2 = """{"a":2,"b":"y","c":true}"""
    java.nio.file.Files.writeString(f.toPath, l1 + "\n" + l2 + "\n")
    val (df, _) = Sources.jsonlSplit(spark, f.getAbsolutePath,
      Sources.inferJsonlSchema(spark, f.getAbsolutePath))
    val rows = df.orderBy("a").collect()
    assert(rows.length === 2)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    assert(rows.head.getAs[String]("__key") === md5hex(l1))
    assert(rows(1).getAs[Boolean]("c") === true)
    assert(rows.head.isNullAt(rows.head.fieldIndex("c"))) // schema drift -> null
  }

  test("partitioned jsonl sink: time-token template -> hive dirs, compact json") {
    import spark.implicits._
    val out = tmpDir("sinkout") + "/o"
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2025-03-05 07:09:11"), "a"),
      (2L, java.sql.Timestamp.valueOf("2025-03-05 08:00:00"), "b"))
      .toDF("id", "ts", "v")
    val parts = Sinks.partitionedJsonl(df, "ts", "%{YEAR}/%{MONTH}/%{DAY}/%{HOUR}/", out)
    assert(parts === Seq("year", "month", "day", "hour"))
    val d = new java.io.File(s"$out/year=2025/month=03/day=05/hour=07")
    assert(d.isDirectory, s"missing partition dir: $d")
    val back = spark.read.text(s"$out/year=2025/month=03/day=05/hour=07")
      .collect().map(_.getString(0))
    assert(back.length === 1 && back.head.startsWith("""{"id":1,"""))
  }

  test("envelope json parse routes malformed rows to DLQ") {
    import spark.implicits._
    val good = """{"lsn":1,"op":"insert","ts":"2025-01-01T00:00:00Z","repo":"r","path":"p","commit":"c","lang":"scala","content":"x","extra":{}}"""
    val bad = """{"this is": "not an envelope"}"""
    val notJson = """{{{"""
    val raw = Seq(good, bad, notJson).toDF("value")
    // the changelog stream's decoder: DLQ-bound lines carry the DlqOp marker
    val decoded = graft.job.CdcJob.decodeLines(raw, "json")
    val ok = decoded.filter(col("op") =!= graft.job.CdcJob.DlqOp)
      .as[graft.envelope.ChangeEvent]
    val dlq = decoded.filter(col("op") === graft.job.CdcJob.DlqOp)
    assert(ok.count() === 1L)
    assert(ok.head().repo === "r")
    assert(dlq.count() === 2L)
  }

  test("a jdbc target's sink config is built once: the spec's batchSize " +
      "reaches it, and a CDC target refuses insertIfAbsent") {
    def spec(source: String, mode: String) = PipelineSpec.fromYaml(
      s"""stream:
         |  name: x
         |  instance:
         |    source: $source
         |    target:
         |      type: jdbc
         |      specs: { url: "jdbc:derby:memory:x", table: t, mode: $mode, batchSize: 7 }
         |""".stripMargin).instance.target
    val changelog = "{ type: changelog, specs: { path: /log } }"
    val cdc = Main.jdbcConfig(spec(changelog, "replace"), cdc = true)
    assert((cdc.batchSize, cdc.mode) === ((7, "replace")))
    val imported = Main.jdbcConfig(
      spec("{ type: jsonl, specs: { path: /in } }", "insertIfAbsent"), cdc = false)
    assert((imported.batchSize, imported.mode) === ((7, "insertIfAbsent")))
    val e = intercept[IllegalArgumentException](
      Main.jdbcConfig(spec(changelog, "insertIfAbsent"), cdc = true))
    assert(e.getMessage.contains("max-lsn-wins"))
  }

  test("flag-driven config-template generates a spec that fromYaml round-trips " +
      "for every source x target combination (draethos generate analog)") {
    // jdbc targets need url+table to validate; rollup needs a path
    def targetFlags(t: String): Array[String] = t match {
      case "jdbc" => Array("--target-type", "jdbc",
        "--target-url", "jdbc:derby:/tmp/db;create=true",
        "--target-table", "repos", "--target-mode", "insertIfAbsent")
      case other => Array("--target-type", other, "--target-path", s"/data/$other")
    }
    for {
      src <- PipelineSpec.SourceTypes
      tgt <- PipelineSpec.TargetTypes
      // rollup requires a parquet changelog source (runRollup's contract)
      if !(tgt == "rollup" && src != "changelog")
    } {
      val flags = Array("--name", s"gen-$src-$tgt",
        "--source-type", src, "--source-path", "/data/in",
        "--key-columns", "repo,path", "--num-buckets", "16",
        "--dlq-path", "/data/dlq") ++
        (if (src == "jsonl" || tgt == "rollup") Array[String]()
         else Array("--source-format", "jsonl", "--source-codec", "yaml")) ++
        targetFlags(tgt)
      val yaml = Main.generatedTemplateYaml(flags)
      val spec = PipelineSpec.fromYaml(yaml)
      assert(spec.name === s"gen-$src-$tgt")
      assert(spec.instance.source.tpe === src)
      assert(spec.instance.target.tpe === tgt)
      assert(spec.instance.dlq.map(_.path) === Some("/data/dlq"))
      if (tgt == "jdbc") {
        assert(spec.instance.target.mode === "insertIfAbsent")
        assert(spec.instance.target.table === "repos")
      } else assert(spec.instance.target.path === s"/data/$tgt")
      assert(spec.instance.target.keyColumns === Seq("repo", "path"))
      assert(spec.instance.target.numBuckets === 16)
    }
    // an unknown type must fail the round-trip INSIDE generation, with the
    // dispatcher's message — never emit a spec `start` would reject
    val e = intercept[IllegalArgumentException] {
      Main.generatedTemplateYaml(Array(
        "--source-type", "kafka", "--target-type", "lake",
        "--target-path", "/data/lake"))
    }
    assert(e.getMessage.contains("not implemented"))
  }
}
