package graft

import graft.job.{CdcJob, CdcJobConfig}
import graft.log.ChangeLogGenerator
import graft.spec.PipelineSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI entry — the analog of the reference's cobra root
  * (`cmd/root.go:24-46`):
  *
  *   graft start -f pipeline.yaml [--verify-oracle]
  *       run the pipeline described by the YAML spec
  *       (≙ `draethos start -f pipeline.yaml`, `cmd/start/root.go:72-105`)
  *
  *   graft generate-log --out DIR [--events N] [--segments K] [--seed S]
  *       synthesize a deterministic change log (test/bench input;
  *       loose analog of `draethos generate`, `cmd/scaffold/root.go`)
  */
object Main {

  private def session(name: String): SparkSession = {
    val s = graft.util.Sessions.local(graft.util.Sessions.cpus, name).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def flag(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("start") => start(args.tail)
    case Some("generate-log") => generateLog(args.tail)
    case Some("compact") => compact(args.tail)
    case Some("lookup") => lookup(args.tail)
    case Some("changes") => changes(args.tail)
    case Some("vacuum") => vacuum(args.tail)
    case Some("config-template") => configTemplate(args.tail)
    case _ =>
      System.err.println(
        "usage: graft start -f pipeline.yaml [--verify-oracle]\n" +
        "       graft generate-log --out DIR [--events N] [--segments K] [--seed S] [--zipf Z]\n" +
        "       graft compact --table DIR [--drop-tombstones]\n" +
        "           (--drop-tombstones only when no event older than the\n" +
        "           dropped tombstones can still be delivered)\n" +
        "       graft lookup --table DIR --key V1[,V2...]\n" +
        "       graft changes --table DIR --from V [--to V]\n" +
        "           (apply per key by max __lsn, not in __version order)\n" +
        "       graft vacuum --table DIR [--keep N]\n" +
        "       graft config-template [--source-type T --target-type T ...]\n" +
        "           [--export-path F] (no flags: print the annotated skeleton)")
      sys.exit(2)
  }

  /** Incremental change feed `(from, to]` as JSON lines — what a
    * downstream consumer tails instead of re-reading the table
    * (`LakeTable.changeFeed`, which states how to apply it).
    */
  private def changes(args: Array[String]): Unit = {
    val table = flag(args, "--table").getOrElse {
      System.err.println("changes: --table DIR required"); sys.exit(2); ""
    }
    val from = flag(args, "--from").map(_.toLong).getOrElse {
      System.err.println("changes: --from V required"); sys.exit(2); 0L
    }
    val spark = session("graft-changes")
    val lake = graft.lake.LakeTable(spark, table)
    val to = flag(args, "--to").map(_.toLong)
      .orElse(lake.currentVersion).getOrElse(0L)
    // stream partition-by-partition (toLocalIterator), never a whole-feed
    // collect: a wide version range on a big table is unbounded output,
    // and the CLI is a tail-consumer, not a materializer
    lake.changeFeed(from, to).toJSON.toLocalIterator().forEachRemaining(
      (l: String) => println(l))
    spark.stop()
  }

  /** Expire old snapshots + vacuum orphaned data files
    * (`LakeTable.expireSnapshots`).
    */
  private def vacuum(args: Array[String]): Unit = {
    val table = flag(args, "--table").getOrElse {
      System.err.println("vacuum: --table DIR required"); sys.exit(2); ""
    }
    val keep = flag(args, "--keep").map(_.toInt).getOrElse(2)
    val spark = session("graft-vacuum")
    val lake = graft.lake.LakeTable(spark, table)
    val (expired, deleted) = lake.expireSnapshots(keep)
    println(s"[graft] vacuum: expired $expired snapshots, deleted $deleted data files")
    spark.stop()
  }

  /** Point lookup of one key's current state — bucket-pruned, so it
    * reads 1/numBuckets of the table (`LakeTable.lookup`), on the driver
    * and with no Spark job. Key values are positional against the table's
    * key columns.
    */
  private def lookup(args: Array[String]): Unit = {
    val table = flag(args, "--table").getOrElse {
      System.err.println("lookup: --table DIR required"); sys.exit(2); ""
    }
    val key = flag(args, "--key").getOrElse {
      System.err.println("lookup: --key V1[,V2...] required"); sys.exit(2); ""
    }
    val spark = session("graft-lookup")
    val lake = graft.lake.LakeTable(spark, table)
    val rows = lake.lookup(key.split(",", -1).toSeq)
      .toJSON.collect()
    if (rows.isEmpty) println(s"[graft] lookup $key: not found")
    else rows.foreach(r => println(s"[graft] $r"))
    spark.stop()
    if (rows.isEmpty) sys.exit(1)
  }

  /** Table maintenance: rewrite each bucket to one file, optionally GC
    * tombstones (see LakeTable.compact).
    */
  private def compact(args: Array[String]): Unit = {
    val table = flag(args, "--table").getOrElse {
      System.err.println("compact: --table DIR required"); sys.exit(2); ""
    }
    val spark = session("graft-compact")
    val lake = graft.lake.LakeTable(spark, table)
    val s = lake.compact(dropTombstones = args.contains("--drop-tombstones"))
    val files = lake.filesOf(s)
    println(s"[graft] compacted to version ${s.version}: " +
      s"${files.values.map(_.size).sum} files in ${files.size} buckets")
    spark.stop()
  }

  /** Emit a pipeline spec ≙ `draethos generate` (`cmd/scaffold/root.go:
    * 229-380`): with flags, build the spec FROM them, validate it through
    * the same parser `start` uses (fail-fast on unknown types, like the
    * reference dispatchers), and print it — optionally writing to
    * `--export-path` like the reference's default `pipeline.yaml` export.
    * With no flags, print the annotated skeleton.
    */
  private def configTemplate(args: Array[String]): Unit = {
    val knows = Set(
      "--export-path", "--name", "--port", "--checkpoint-dir",
      "--source-type", "--source-path", "--source-format", "--source-codec",
      "--source-trigger", "--source-endpoint", "--source-methods",
      "--source-batch-size", "--max-files-per-trigger", "--max-bytes-per-trigger",
      "--target-type", "--target-path", "--target-table", "--target-url",
      "--target-mode", "--key-columns", "--num-buckets", "--target-codec",
      "--target-prefix", "--window", "--watermark", "--dlq-path")
    args.filter(_.startsWith("--")).find(!knows(_)).foreach { f =>
      System.err.println(s"config-template: unknown flag $f"); sys.exit(2)
    }
    if (args.isEmpty) { printSkeleton(); return }
    def opt(n: String) = flag(args, n)
    def line(indent: Int, k: String, v: Option[String]): Seq[String] =
      v.filter(_.nonEmpty).map(x => " " * indent + s"$k: $x").toSeq
    val srcType = opt("--source-type").getOrElse("changelog")
    val tgtType = opt("--target-type").getOrElse("lake")
    val yaml = (Seq(
      "stream:",
      s"  name: ${opt("--name").getOrElse("my-pipeline")}") ++
      line(2, "checkpointDir", opt("--checkpoint-dir")) ++
      line(2, "port", opt("--port")) ++ Seq(
      "  instance:",
      "    source:",
      s"      type: $srcType",
      "      specs:") ++
      line(8, "path", opt("--source-path")) ++
      line(8, "format", opt("--source-format")) ++
      line(8, "codec", opt("--source-codec")) ++
      line(8, "trigger", opt("--source-trigger")) ++
      line(8, "endpoint", opt("--source-endpoint")) ++
      line(8, "methods", opt("--source-methods")
        .map(_.split(",", -1).mkString("[", ", ", "]"))) ++
      line(8, "batchSize", opt("--source-batch-size")) ++
      line(8, "maxFilesPerTrigger", opt("--max-files-per-trigger")) ++
      line(8, "maxBytesPerTrigger", opt("--max-bytes-per-trigger")) ++ Seq(
      "    target:",
      s"      type: $tgtType",
      "      specs:") ++
      line(8, "path", opt("--target-path")) ++
      line(8, "table", opt("--target-table")) ++
      line(8, "url", opt("--target-url")) ++
      line(8, "mode", opt("--target-mode")) ++
      line(8, "keyColumns", opt("--key-columns")
        .map(_.split(",", -1).mkString("[", ", ", "]"))) ++
      line(8, "numBuckets", opt("--num-buckets")) ++
      line(8, "codec", opt("--target-codec")) ++
      line(8, "prefix", opt("--target-prefix")
        .map(p => "\"" + p + "\"")) ++
      line(8, "window", opt("--window")) ++
      line(8, "watermark", opt("--watermark")) ++
      opt("--dlq-path").filter(_.nonEmpty).map(p => Seq(
        "    dlq:",
        "      type: files",
        "      specs:",
        s"        path: $p")).getOrElse(Nil))
      .mkString("", "\n", "\n")
    // a spec `graft start` would reject must never be emitted — round-trip
    // through the real parser (unknown type/codec/trigger fails here, with
    // the same message the reference dispatcher prints)
    PipelineSpec.fromYaml(yaml)
    opt("--export-path").filter(_.nonEmpty) match {
      case Some(p) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p), yaml)
        println(s"[graft] generated scaffold\npath: $p\n-------\n$yaml-------")
      case None => print(yaml)
    }
  }

  private[graft] def generatedTemplateYaml(args: Array[String]): String = {
    // test seam: capture what configTemplate writes for the given flags
    val tmp = java.nio.file.Files.createTempFile("graft-template", ".yaml")
    try {
      configTemplate(args ++ Array("--export-path", tmp.toString))
      java.nio.file.Files.readString(tmp)
    } finally { java.nio.file.Files.deleteIfExists(tmp); () }
  }

  private def printSkeleton(): Unit = println(
    """stream:
      |  name: my-pipeline
      |  checkpointDir: /data/ckpt
      |  port: 8080                   # http source server port (0 = ephemeral)
      |  instance:
      |    source:
      |      type: changelog          # changelog | csv | jsonl | http
      |      specs:
      |        path: /data/log        # http: the spool dir the webhook writes
      |        format: parquet        # parquet (typed segments) | jsonl (raw text + codec, DLQ-able)
      |        codec: json            # json | yaml | xml (decodes jsonl-format text lines)
      |        trigger: availableNow  # availableNow (replay+exit) | processingTime=500ms (tail)
      |        maxFilesPerTrigger: 8
      |        # maxBytesPerTrigger: 3000000000  # byte-bounded batches (overrides file count)
      |        # http source only:
      |        # endpoint: /ingest
      |        # methods: [GET, POST]
      |        # batchSize: 100       # spool segment flush threshold
      |    target:
      |      type: lake               # lake | files | jdbc | rollup
      |      specs:
      |        path: /data/lake
      |        keyColumns: [repo, path]
      |        numBuckets: 64
      |        # rollup target only (watermarked windowed aggregation):
      |        # window: 1 hour
      |        # watermark: 10 minutes
      |        # files target only: codec json -> partitioned JSONL under
      |        # the prefix template; default codec writes parquet
      |        # codec: json
      |        # prefix: "%{YEAR}/%{MONTH}/%{DAY}/%{HOUR}/"
      |        # jdbc target only (streaming CDC apply or batch import):
      |        # url: jdbc:derby:/data/db;create=true
      |        # table: repos
      |        # mode: replace        # replace (last-write-wins) | insertIfAbsent (batch import only)
      |        # batchSize: 100       # rows per partition commit
      |    dlq:
      |      type: files
      |      specs:
      |        path: /data/dlq
      |# CLI: graft start -f pipeline.yaml [--verify-oracle]
      |#         [--follow [--interval-ms N]] [--idle-timeout-ms N]
      |#         [--batch-id N]   (batch imports: idempotence ledger key)
      |""".stripMargin)

  private def start(args: Array[String]): Unit = {
    val specPath = flag(args, "-f").getOrElse {
      System.err.println("start: -f pipeline.yaml required"); sys.exit(2); ""
    }
    val spec = PipelineSpec.fromYamlFile(specPath)
    val spark = session(s"graft-${spec.name}")
    spec.instance.source.tpe match {
      case "changelog" if spec.instance.target.tpe == "rollup" =>
        runRollup(spark, spec)
      case "changelog" =>
        runCdc(spark, spec, args, spec.instance.source.path,
          spec.instance.source.format, httpServer = None)
      case "http" =>
        // push ingestion ≙ `internal/source/http.go`: the webhook server
        // spools validated envelopes as jsonl segments; the streaming job
        // tails the spool (necessarily in follow mode — push sources have
        // no end-of-log)
        val spool = spec.instance.source.path
        require(spool.nonEmpty, "http source requires specs.path (spool dir)")
        val server = graft.sources.HttpIngestServer(
          spec.port, spec.instance.source.endpoint, spool,
          spec.instance.source.methods.toSet, spec.instance.source.batchSize,
          spec.instance.source.bufferSize)
        server.start()
        println(s"[graft] http source listening on :${server.boundPort}" +
          s"${spec.instance.source.endpoint} -> spool $spool")
        try runCdc(spark, spec, args :+ "--follow", spool, "jsonl",
          httpServer = Some(server))
        finally server.stop()
      case "csv" =>
        val df = graft.sources.Sources.csv(spark, spec.instance.source.path)
        batchTarget(spark, df, spec, args)
      case "jsonl" =>
        val good = jsonlImport(spark, spec,
          flag(args, "--batch-id").map(_.toLong).getOrElse(0L))
        batchTarget(spark, good, spec, args)
      case t =>
        System.err.println(s"source type $t not implemented"); sys.exit(2)
    }
    spark.stop()
  }

  /** The parsed rows of a batch jsonl import. Its malformed lines go to
    * the DLQ as the file of (pipeline, batch id), so re-running an import
    * adds no second copy (`graft.sinks.Dlq`).
    */
  private[graft] def jsonlImport(spark: SparkSession, spec: PipelineSpec,
      batchId: Long): org.apache.spark.sql.DataFrame = {
    val src = spec.instance.source.path
    val schema = graft.sources.Sources.inferJsonlSchema(spark, src)
    val (good, bad) = graft.sources.Sources.jsonlSplit(spark, src, schema)
    spec.instance.dlq.map(_.path).filter(_.nonEmpty).foreach { dlq =>
      val n = graft.sinks.Dlq.write(bad, dlq, spec.name, batchId)
      if (n > 0) println(s"[graft] routed $n malformed lines to DLQ $dlq")
    }
    good
  }

  /** Streaming rollup pipeline: changelog → watermarked tumbling-window
    * aggregation → parquet append (`graft.streaming.EventRollup`). Late
    * events beyond the watermark are dropped; finalized windows append
    * exactly once; re-running from the same checkpoint emits only newly
    * finalized windows.
    */
  private def runRollup(spark: SparkSession, spec: PipelineSpec): Unit = {
    val tgt = spec.instance.target
    require(spec.instance.source.format == "parquet",
      "rollup target requires source format: parquet (typed event segments)")
    val ckpt =
      if (spec.checkpointDir.nonEmpty) spec.checkpointDir
      else tgt.path + "/_checkpoint"
    val t0 = System.nanoTime()
    graft.streaming.EventRollup.start(spark, spec.instance.source.path,
        tgt.path, ckpt, tgt.watermark, tgt.window)
      .awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    // a run in which no window crossed the watermark leaves only
    // _spark_metadata in the sink — schema inference fails on the read;
    // that is a successful run with 0 finalized rows, not an error. Any
    // OTHER AnalysisException (mistyped path, corrupt sink) must fail
    // loudly, so the empty-sink mapping applies only when the sink dir
    // holds nothing but stream metadata.
    val finalized =
      try spark.read.parquet(tgt.path).count()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          val children = Option(new java.io.File(tgt.path).list())
            .map(_.toSeq).getOrElse(Nil)
          val onlyMetadata = children.nonEmpty &&
            children.forall(n => n == "_spark_metadata" || n.startsWith("_checkpoint"))
          if (onlyMetadata) 0L else throw e
      }
    println(f"[graft] rollup done in $secs%.1f s: $finalized finalized " +
      s"(window=${tgt.window}, watermark=${tgt.watermark}) rows in ${tgt.path}")
  }

  /** The streaming CDC path: changelog (or http spool) → dedup → lake
    * MERGE or JDBC upsert.
    */
  private def runCdc(spark: SparkSession, spec: PipelineSpec,
      args: Array[String], logDir: String, format: String,
      httpServer: Option[graft.sources.HttpIngestServer]): Unit = {
        val tgt = spec.instance.target
        require(tgt.tpe == "lake" || tgt.tpe == "jdbc",
          s"streaming source requires lake or jdbc target, got ${tgt.tpe}")
        val jdbcSink =
          if (tgt.tpe == "jdbc") Some(jdbcConfig(tgt, cdc = true)) else None
        val dlqDir = spec.instance.dlq.map(_.path).filter(_.nonEmpty)
        require(dlqDir.isEmpty || format == "jsonl",
          "dlq configured but source format is parquet (typed segments " +
            "cannot produce malformed records); set source format: jsonl")
        val cfg = CdcJobConfig(
          logDir = logDir,
          tablePath = tgt.path,
          checkpointDir =
            if (spec.checkpointDir.nonEmpty) spec.checkpointDir
            else if (tgt.tpe == "jdbc") logDir + "/_checkpoint"
            else tgt.path + "/_checkpoint",
          dlqDir = dlqDir,
          keyCols = tgt.keyColumns,
          numBuckets = tgt.numBuckets,
          maxFilesPerTrigger = spec.instance.source.maxFilesPerTrigger,
          maxBytesPerTrigger = spec.instance.source.maxBytesPerTrigger,
          format = format,
          codec = spec.instance.source.codec,
          checkpointId = spec.name,
          jdbcSink = jdbcSink)
        val job = CdcJob(spark, cfg)
        // ops endpoints for EVERY streaming pipeline ≙ internal/worker.go:
        // 82-90 (the reference serves promhttp + healthchecks regardless
        // of source type). http-source pipelines already expose them on
        // the ingest port; changelog pipelines get a dedicated server.
        val listener = new graft.job.MetricsListener()
        spark.streams.addListener(listener)
        @volatile var queryLive = false
        val ops =
          if (httpServer.isDefined) None
          else graft.job.OpsServer.tryStart(spec.port, () => queryLive,
            () => listener.prometheusText)
        ops.foreach(o => println(s"[graft] ops endpoints on :${o.boundPort}" +
          " (/metrics, /healthcheck/liveness, /healthcheck/readiness)"))
        // tailing: spec trigger processingTime=<N>ms, or CLI --follow
        // [--interval-ms N]; --idle-timeout-ms N stops after that long
        // without new data (catch-up-then-exit; also the e2e-test hook)
        val followMs: Option[Long] = spec.instance.source.processingTimeMs
          .orElse(if (args.contains("--follow"))
            Some(flag(args, "--interval-ms").map(_.toLong).getOrElse(500L))
          else None)
        val idleMs = flag(args, "--idle-timeout-ms").map(_.toLong)
        val t0 = System.nanoTime()
        queryLive = true
        val stats =
          try followMs match {
            case Some(ms) => job.runFollowing(ms, idleMs)
            case None => job.runToCompletion()
          } finally {
            queryLive = false
            ops.foreach(_.stop())
            spark.streams.removeListener(listener)
          }
        val secs = (System.nanoTime() - t0) / 1e9
        val applied = stats.filterNot(_.skippedAsApplied)
        val events = applied.map(_.inputRows).sum
        println(f"[graft] replay done: ${applied.size} micro-batches, " +
          f"$events events applied in $secs%.1f s " +
          f"(${events / math.max(secs, 1e-9)}%.0f events/s)")
        if (jdbcSink.isEmpty) {
          val table = job.lake.read()
          println(s"[graft] lake version=${job.lake.currentVersion.getOrElse(-1L)} " +
            s"rows=${table.count()} schema=[${job.lake.schema.fieldNames.mkString(",")}]")
        } else {
          println(s"[graft] jdbc target ${tgt.table}: " +
            s"${applied.map(_.upserted).sum} upserted, ${applied.map(_.deleted).sum} deleted")
        }
        if (args.contains("--verify-oracle") && jdbcSink.isEmpty) {
          // independent one-batch reducer over the raw log vs table state
          // read the partitioned log dir (not a glob — avoids the noisy
          // FileStreamSink metadata probe) and drop the seg partition col
          val raw = cfg.format match {
            case "jsonl" =>
              // the stream's own decode; malformed (DLQ-bound) lines
              // drop out here too
              CdcJob.decodeLines(spark.read.text(logDir + "/seg=*"), cfg.codec)
                .filter(col("op") =!= CdcJob.DlqOp)
            case _ =>
              spark.read.parquet(logDir).drop("seg")
          }
          val oracle = job.oracleOf(raw)
          val got = job.lake.read().select(col("repo"), col("path"),
            sha2(col("content"), 256).as("sha"))
          val want = oracle.select(col("repo"), col("path"),
            sha2(col("content"), 256).as("sha"))
          val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
          println(s"[graft] oracle check: ${if (diff == 0) "CONVERGED" else s"DIVERGED ($diff rows)"}")
          if (diff != 0) sys.exit(1)
        }
  }

  /** The sink config of a `jdbc` target, for a batch import or (`cdc`)
    * a streaming CDC apply. A CDC target refuses `insertIfAbsent`: the
    * CDC apply is max-lsn-wins per key and has no first-write-wins mode.
    */
  private[graft] def jdbcConfig(t: graft.spec.TargetSpec,
      cdc: Boolean): graft.sinks.JdbcUpsert.Config = {
    require(!cdc || t.mode != graft.sinks.JdbcUpsert.InsertIfAbsent,
      s"jdbc mode ${t.mode} does not apply to a CDC target: the CDC apply " +
        "is max-lsn-wins per key (use mode: replace)")
    graft.sinks.JdbcUpsert.Config(t.url, t.table, keyColumns = t.keyColumns,
      mode = t.mode, batchSize = t.batchSize)
  }

  private def batchTarget(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, spec: PipelineSpec,
      args: Array[String]): Unit =
    if (spec.instance.target.tpe == "lake") {
      val bid = flag(args, "--batch-id").map(_.toLong).getOrElse(0L)
      val st = importBatch(spark, df, spec, bid)
      if (st.skippedAsApplied)
        println(s"[graft] import batch $bid already applied (exactly-once no-op)")
      else
        println(s"[graft] import batch $bid: ${st.upserted} rows upserted into " +
          s"${spec.instance.target.path} (table version ${st.version})")
    } else writeBatchTarget(df, spec, args)

  /** Batch import into the lake ≙ the reference's CSV/JSONL → pgsql/mysql
    * upsert examples (`examples/example-4`): each row keyed by the spec's
    * keyColumns (e.g. the md5 `__key`), applied as one idempotent MERGE
    * commit. `batchId` doubles as the LSN, so re-running the same import
    * is a no-op (exactly-once ledger) and a later import (higher
    * --batch-id) wins per key — REPLACE-INTO semantics.
    */
  private[graft] def importBatch(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, spec: PipelineSpec,
      batchId: Long): graft.lake.MergeStats = {
    val t = spec.instance.target
    require(t.keyColumns.forall(df.columns.contains),
      s"keyColumns ${t.keyColumns.mkString(",")} not all present in " +
        s"source columns ${df.columns.mkString(",")}")
    val lake = graft.lake.LakeTable(spark, t.path, t.keyColumns, t.numBuckets)
    lake.createIfAbsent(df.schema)
    val batch = df
      .withColumn("lsn", lit(batchId))
      .withColumn("op", lit("insert"))
    lake.merge(batch, spec.name, batchId)
  }

  private def writeBatchTarget(df: org.apache.spark.sql.DataFrame,
      spec: PipelineSpec, args: Array[String] = Array.empty): Unit =
    spec.instance.target.tpe match {
    case "jdbc" =>
      // CSV/JSONL → relational upsert ≙ the reference's file-importer
      // examples (`examples/example-6`, csv → pgsql with md5 `__key`);
      // --batch-id gives whole-import idempotence via the DB-side ledger
      val t = spec.instance.target
      val jcfg = jdbcConfig(t, cdc = false)
      val bid = flag(args, "--batch-id").map(_.toLong).getOrElse(0L)
      if (graft.sinks.JdbcUpsert.isApplied(t.url, spec.name, bid))
        println(s"[graft] import batch $bid already applied (exactly-once no-op)")
      else {
        val n = graft.sinks.JdbcUpsert.write(df, jcfg)
        graft.sinks.JdbcUpsert.recordApplied(t.url, spec.name, bid)
        println(s"[graft] import batch $bid: $n rows upserted into jdbc ${t.table} (mode ${t.mode})")
      }
    case "files" if spec.instance.target.codec == "json" =>
      // JSONL files laid out under the reference's S3 prefix template
      // (`internal/target/s3.go:205-235`); partition time = write wall
      // clock, like the reference's time.Now() prefix rendering
      require(spec.instance.target.lineBreak == "\n",
        s"lineBreak ${spec.instance.target.lineBreak} not supported (text sink is newline-delimited)")
      val n = df.count()
      val parts = graft.sinks.Sinks.partitionedJsonl(
        df.withColumn("__graft_ts", current_timestamp()), "__graft_ts",
        spec.instance.target.prefix, spec.instance.target.path)
      println(s"[graft] wrote $n jsonl rows to ${spec.instance.target.path}" +
        (if (parts.nonEmpty) s" partitioned by ${parts.mkString("/")}" else ""))
    case "files" =>
      val n = df.count()
      df.write.mode("overwrite").parquet(spec.instance.target.path)
      println(s"[graft] wrote $n rows to ${spec.instance.target.path}")
    case t =>
      System.err.println(s"target type $t not supported for batch sources")
      sys.exit(2)
  }

  private def generateLog(args: Array[String]): Unit = {
    val out = flag(args, "--out").getOrElse {
      System.err.println("generate-log: --out DIR required"); sys.exit(2); ""
    }
    val cfg = ChangeLogGenerator.Config(
      nEvents = flag(args, "--events").map(_.toLong).getOrElse(100000L),
      numSegments = flag(args, "--segments").map(_.toInt).getOrElse(20),
      nRepos = flag(args, "--repos").map(_.toInt).getOrElse(200),
      pathsPerRepo = flag(args, "--paths").map(_.toInt).getOrElse(50),
      zipfExponent = flag(args, "--zipf").map(_.toDouble).getOrElse(1.2),
      seed = flag(args, "--seed").map(_.toLong).getOrElse(42L))
    val spark = session("graft-generate-log")
    val t0 = System.nanoTime()
    ChangeLogGenerator.writeSegments(spark, out, cfg)
    println(f"[graft] wrote ${cfg.nEvents} events (+dups) in " +
      f"${cfg.numSegments} segments to $out in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
