package graft.spec

import scala.jdk.CollectionConverters._

/** Pipeline spec — the Scala analog of the reference's YAML-configured
  * `specs.Stream` (`pkg/streams/specs/stream.go:3-65`): one source, one
  * target, one optional DLQ per pipeline, parsed from the same YAML shape
  * (`internal/config.go:109-116`) and validated at startup like the
  * reference's dispatchers (`internal/context/source.go:20-51`,
  * `internal/context/target.go:21-38` — unknown types fail fast).
  */
final case class SourceSpec(
    tpe: String, // changelog | csv | jsonl | http
    path: String = "",
    // http source only ≙ reference SourceSpecs endpoint/method
    // (`stream.go:31-38`); `path` doubles as the spool dir
    endpoint: String = "/ingest",
    methods: Seq[String] = Seq("GET", "POST"),
    batchSize: Int = 100, // http spool flush threshold ≙ target CanFlush
    // http spool flush BYTE budget ≙ the reference's bufferSize
    // (`target/s3.go:142-155`); checked before the count threshold
    bufferSize: Long = 1L << 20,
    codec: String = "json",
    // changelog encoding: "parquet" (typed segments) or "jsonl" (raw text
    // decoded by `codec` — the draethos kafka+json shape, with DLQ)
    format: String = "parquet",
    // "availableNow" (replay to end-of-log, exit) or "processingTime=<N>ms"
    // (tail forever ≙ the reference's poll loop, kafka.go:84)
    trigger: String = "availableNow",
    maxFilesPerTrigger: Int = 2,
    // byte-bounded micro-batches (overrides maxFilesPerTrigger when set):
    // the backpressure knob that stays meaningful across segment layouts
    maxBytesPerTrigger: Option[Long] = None) {

  /** Tail interval in ms when trigger is processingTime, else None. */
  def processingTimeMs: Option[Long] = trigger match {
    case PipelineSpec.ProcessingTimeRe(n) => Some(n.toLong)
    case _ => None
  }
}

final case class TargetSpec(
    tpe: String, // lake | files | jdbc | rollup
    table: String = "",
    path: String = "",
    // jdbc target only ≙ reference TargetSpecs database
    url: String = "",
    mode: String = "replace", // replace (mysql REPLACE) | insertIfAbsent (pgsql DO NOTHING)
    keyColumns: Seq[String] = Seq("repo", "path"),
    numBuckets: Int = 32,
    codec: String = "json",
    batchSize: Int = graft.sinks.JdbcUpsert.DefaultBatchSize,
    prefix: String = "",
    lineBreak: String = "\n",
    // rollup target only: watermarked tumbling-window aggregation
    window: String = "1 hour",
    watermark: String = "10 minutes")

final case class InstanceSpec(
    source: SourceSpec,
    target: TargetSpec,
    dlq: Option[TargetSpec])

final case class PipelineSpec(
    name: String,
    checkpointDir: String,
    // http server port ≙ reference `Base.Port` (`stream.go:8`); 0 = ephemeral
    port: Int = 8080,
    instance: InstanceSpec)

object PipelineSpec {

  val SourceTypes: Set[String] = Set("changelog", "csv", "jsonl", "http")
  val TargetTypes: Set[String] = Set("lake", "files", "jdbc", "rollup")
  val Codecs: Set[String] = Set("json", "yaml", "xml")
  val SourceFormats: Set[String] = Set("parquet", "jsonl")
  private[spec] val ProcessingTimeRe = "processingTime=(\\d+)(?:ms)?".r

  /** Parse + validate a pipeline YAML. Unknown source/target/codec types
    * throw, mirroring `context/source.go:48-50` / `context/target.go:35-37`
    * ("target type %s not implemented").
    */
  def fromYaml(yaml: String): PipelineSpec = {
    val root = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](yaml)
    require(root != null, "empty pipeline spec")
    val m = root.asScala
    val stream = sub(m, "stream").getOrElse(m)
    val inst = sub(stream, "instance").getOrElse(
      throw new IllegalArgumentException("missing stream.instance"))
    val src = parseSource(sub(inst, "source").getOrElse(
      throw new IllegalArgumentException("missing instance.source")))
    val tgt = parseTarget(sub(inst, "target").getOrElse(
      throw new IllegalArgumentException("missing instance.target")))
    val dlq = sub(inst, "dlq").map(parseTarget)
    PipelineSpec(
      name = str(stream, "name").getOrElse("pipeline"),
      checkpointDir = str(stream, "checkpointDir").getOrElse(""),
      port = int(stream, "port").getOrElse(8080),
      instance = InstanceSpec(src, tgt, dlq))
  }

  def fromYamlFile(path: String): PipelineSpec = {
    // extension gate ≙ internal/config.go:87-97 (.yml/.yaml only)
    require(path.endsWith(".yml") || path.endsWith(".yaml"),
      s"unsupported pipeline file extension: $path")
    fromYaml(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
  }

  private def parseSource(s: scala.collection.Map[String, Object]): SourceSpec = {
    val tpe = str(s, "type").getOrElse(
      throw new IllegalArgumentException("source.type required"))
    if (!SourceTypes(tpe))
      throw new IllegalArgumentException(s"source type $tpe not implemented")
    val sp = sub(s, "specs").getOrElse(s)
    val codec = str(sp, "codec").getOrElse("json")
    if (!Codecs(codec))
      throw new IllegalArgumentException(s"codec $codec not implemented")
    val format = str(sp, "format").getOrElse("parquet")
    if (!SourceFormats(format))
      throw new IllegalArgumentException(s"source format $format not implemented")
    // all three codecs dispatch on the text changelog path (json/xml via
    // native expressions, yaml via per-partition transcode), matching the
    // reference dispatcher `internal/context/codec.go:15-27`; parquet
    // segments are typed and take no codec
    val trigger = str(sp, "trigger").getOrElse("availableNow")
    if (trigger != "availableNow" && ProcessingTimeRe.findFirstIn(trigger).isEmpty)
      throw new IllegalArgumentException(
        s"trigger $trigger not implemented (availableNow | processingTime=<N>ms)")
    // unknown keys are otherwise ignored; a removed option must not
    // vanish silently from a spec that still sets it
    if (sp.contains("dedupStateTtlMs"))
      throw new IllegalArgumentException(
        "source option dedupStateTtlMs was removed: CDC pipelines keep " +
          "no dedup state (the sinks hold the max-lsn guarantee); delete " +
          "the option from the spec")
    SourceSpec(
      tpe = tpe,
      path = str(sp, "path").getOrElse(""),
      endpoint = str(sp, "endpoint").getOrElse("/ingest"),
      methods = strSeq(sp, "methods", Seq("GET", "POST")).map(_.toUpperCase),
      batchSize = int(sp, "batchSize").getOrElse(100),
      bufferSize = str(sp, "bufferSize").map(_.toLong).getOrElse(1L << 20),
      codec = codec,
      format = format,
      trigger = trigger,
      maxFilesPerTrigger = int(sp, "maxFilesPerTrigger").getOrElse(2),
      maxBytesPerTrigger = str(sp, "maxBytesPerTrigger").map(_.toLong))
  }

  private def parseTarget(t: scala.collection.Map[String, Object]): TargetSpec = {
    val tpe = str(t, "type").getOrElse(
      throw new IllegalArgumentException("target.type required"))
    if (!TargetTypes(tpe))
      throw new IllegalArgumentException(s"target type $tpe not implemented")
    val sp = sub(t, "specs").getOrElse(t)
    val mode = str(sp, "mode").getOrElse("replace")
    if (tpe == "jdbc") {
      if (!graft.sinks.JdbcUpsert.Modes(mode))
        throw new IllegalArgumentException(s"jdbc mode $mode not implemented")
      if (str(sp, "url").forall(_.isEmpty))
        throw new IllegalArgumentException("jdbc target requires specs.url")
      if (str(sp, "table").forall(_.isEmpty))
        throw new IllegalArgumentException("jdbc target requires specs.table")
    }
    if (tpe == "rollup" && str(sp, "path").forall(_.isEmpty))
      throw new IllegalArgumentException("rollup target requires specs.path")
    TargetSpec(
      tpe = tpe,
      table = str(sp, "table").getOrElse(""),
      path = str(sp, "path").getOrElse(""),
      url = str(sp, "url").getOrElse(""),
      mode = mode,
      keyColumns = strSeq(sp, "keyColumns", Seq("repo", "path")),
      numBuckets = int(sp, "numBuckets").getOrElse(32),
      codec = str(sp, "codec").getOrElse("json"),
      batchSize = int(sp, "batchSize").getOrElse(graft.sinks.JdbcUpsert.DefaultBatchSize),
      prefix = str(sp, "prefix").getOrElse(""),
      lineBreak = str(sp, "lineBreak").getOrElse("\n"),
      window = str(sp, "window").getOrElse("1 hour"),
      watermark = str(sp, "watermark").getOrElse("10 minutes"))
  }

  // -- snakeyaml helpers -------------------------------------------------------
  private def sub(m: scala.collection.Map[String, Object], k: String)
      : Option[scala.collection.Map[String, Object]] =
    m.get(k).collect { case j: java.util.Map[_, _] =>
      j.asInstanceOf[java.util.Map[String, Object]].asScala }
  private def str(m: scala.collection.Map[String, Object], k: String): Option[String] =
    m.get(k).flatMap(Option(_)).map(_.toString)
  private def int(m: scala.collection.Map[String, Object], k: String): Option[Int] =
    str(m, k).map(_.toInt)
  private def strSeq(m: scala.collection.Map[String, Object], k: String,
      dflt: Seq[String]): Seq[String] =
    m.get(k) match {
      case Some(l: java.util.List[_]) => l.asScala.map(_.toString).toSeq
      case _ => dflt
    }
}
