package graft

import graft.envelope.ChangeEvent
import graft.sinks.JdbcUpsert
import org.apache.spark.sql.functions._

import java.sql.DriverManager

/** JDBC upsert sink against embedded Derby (ships in /opt/spark/jars) —
  * the real-database check of the reference's pgsql/mysql sink semantics:
  * auto-create with key PK, auto-ALTER on drift, insert-if-absent
  * (first-write-wins ≙ ON CONFLICT DO NOTHING) vs replace
  * (last-write-wins ≙ REPLACE INTO), CLOB promotion for long text, the
  * applied-batch ledger, and the streaming CDC apply.
  */
class JdbcUpsertSpec extends SparkSpec {

  private def freshUrl(name: String) = s"jdbc:derby:memory:$name;create=true"

  private def queryAll(url: String, sql: String): Seq[Seq[Any]] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) out += (1 to n).map(rs.getObject)
      out.toSeq
    } finally conn.close()
  }

  test("replace mode: last write wins, table auto-created with key PK") {
    import spark.implicits._
    val url = freshUrl("repl")
    val cfg = JdbcUpsert.Config(url, "t_repl", keyColumns = Seq("k"))
    val b1 = Seq(("a", "v1", 1L), ("b", "v1", 2L)).toDF("k", "v", "n")
    assert(JdbcUpsert.write(b1, cfg) === 2)
    val b2 = Seq(("a", "v2", 10L), ("c", "v1", 3L)).toDF("k", "v", "n")
    assert(JdbcUpsert.write(b2, cfg) === 2)
    val rows = queryAll(url, "SELECT \"k\", \"v\", \"n\" FROM \"t_repl\" ORDER BY \"k\"")
    assert(rows === Seq(Seq("a", "v2", 10L), Seq("b", "v1", 2L), Seq("c", "v1", 3L)))
  }

  test("insertIfAbsent mode: first write wins (ON CONFLICT DO NOTHING)") {
    import spark.implicits._
    val url = freshUrl("ifabs")
    val cfg = JdbcUpsert.Config(url, "t_ifabs", keyColumns = Seq("k"),
      mode = JdbcUpsert.InsertIfAbsent)
    JdbcUpsert.write(Seq(("a", "first")).toDF("k", "v"), cfg)
    JdbcUpsert.write(Seq(("a", "second"), ("b", "first")).toDF("k", "v"), cfg)
    val rows = queryAll(url, "SELECT \"k\", \"v\" FROM \"t_ifabs\" ORDER BY \"k\"")
    assert(rows === Seq(Seq("a", "first"), Seq("b", "first")))
  }

  test("schema drift: new column auto-ALTERed, old rows read NULL") {
    import spark.implicits._
    val url = freshUrl("drift")
    val cfg = JdbcUpsert.Config(url, "t_drift", keyColumns = Seq("k"))
    JdbcUpsert.write(Seq(("a", "v1")).toDF("k", "v"), cfg)
    JdbcUpsert.write(Seq(("b", "v2", true)).toDF("k", "v", "flag"), cfg)
    val rows = queryAll(url,
      "SELECT \"k\", \"v\", \"flag\" FROM \"t_drift\" ORDER BY \"k\"")
    assert(rows === Seq(Seq("a", "v1", null), Seq("b", "v2", true)))
  }

  test("long strings promote to CLOB; short stay VARCHAR(255)") {
    import spark.implicits._
    val url = freshUrl("clob")
    val cfg = JdbcUpsert.Config(url, "t_clob", keyColumns = Seq("k"))
    val long = "x" * 5000
    JdbcUpsert.write(Seq(("a", long, "short")).toDF("k", "body", "note"), cfg)
    val conn = DriverManager.getConnection(url)
    val types = try {
      val rs = conn.getMetaData.getColumns(null, null, "t_clob", null)
      val m = scala.collection.mutable.Map.empty[String, String]
      while (rs.next()) m += rs.getString("COLUMN_NAME") -> rs.getString("TYPE_NAME")
      m.toMap
    } finally conn.close()
    assert(types("body") === "CLOB")
    assert(types("note") === "VARCHAR")
    // CAST materializes the CLOB before the connection closes
    val got = queryAll(url,
      "SELECT CAST(\"body\" AS VARCHAR(10000)) FROM \"t_clob\"")
    assert(got.head.head === long)
  }

  test("a VARCHAR column widens when a later batch brings longer strings") {
    import spark.implicits._
    val url = freshUrl("widen")
    val cfg = JdbcUpsert.Config(url, "t_widen", keyColumns = Seq("k"))
    // batch 1: short strings -> column created VARCHAR(255)
    JdbcUpsert.write(Seq(("a", "short")).toDF("k", "body"), cfg)
    // batch 2: >255 chars. Without widening this threw a truncation
    // SQLException in the partition writer and killed the stream.
    val long = "y" * 4000
    JdbcUpsert.write(Seq(("a", long), ("b", long)).toDF("k", "body"), cfg)
    val got = queryAll(url,
      "SELECT \"k\", CAST(\"body\" AS VARCHAR(10000)) FROM \"t_widen\" ORDER BY \"k\"")
    assert(got === Seq(Seq("a", long), Seq("b", long)))
  }

  test("complex columns serialize as JSON text (JSONB analog)") {
    import spark.implicits._
    val url = freshUrl("json")
    val cfg = JdbcUpsert.Config(url, "t_json", keyColumns = Seq("k"))
    val df = Seq(("a", Map("x" -> "1", "y" -> "2"))).toDF("k", "m")
    JdbcUpsert.write(df, cfg)
    val got = queryAll(url, "SELECT \"m\" FROM \"t_json\"").head.head.toString
    assert(got.contains("\"x\":\"1\"") && got.contains("\"y\":\"2\""))
  }

  test("applied-batch ledger: record once, re-apply detected") {
    val url = freshUrl("ledger")
    assert(!JdbcUpsert.isApplied(url, "p1", 7L))
    JdbcUpsert.recordApplied(url, "p1", 7L)
    assert(JdbcUpsert.isApplied(url, "p1", 7L))
    JdbcUpsert.recordApplied(url, "p1", 7L) // idempotent, no throw
    assert(!JdbcUpsert.isApplied(url, "p2", 7L))
    assert(!JdbcUpsert.isApplied(url, "p1", 8L))
  }

  test("applyCdcBatch: winner per key, deletes delete, delete-wins tie-break") {
    import spark.implicits._
    val url = freshUrl("cdc")
    val cfg = JdbcUpsert.Config(url, "t_cdc", keyColumns = Seq("repo", "path"))
    // seed key (r,a) so the delete has something to remove
    val seed = Seq((1L, "insert", "r", "a", "old"), (1L, "insert", "r", "b", "keep"))
      .toDF("lsn", "op", "repo", "path", "content")
    JdbcUpsert.applyCdcBatch(seed, cfg)
    val batch = Seq(
      (5L, "update", "r", "b", "b-v5"),
      (3L, "update", "r", "b", "b-v3"),     // loses to lsn 5
      (9L, "delete", "r", "a", ""),
      (9L, "insert", "r", "a", "ghost"),    // equal-lsn: delete wins
      (2L, "insert", "r", "c", "c-v2"))
      .toDF("lsn", "op", "repo", "path", "content")
    val (up, del) = JdbcUpsert.applyCdcBatch(batch, cfg)
    assert(up === 2 && del === 1)
    val rows = queryAll(url,
      "SELECT \"repo\", \"path\", \"content\" FROM \"t_cdc\" ORDER BY \"path\"")
    assert(rows === Seq(Seq("r", "b", "b-v5"), Seq("r", "c", "c-v2")))
  }

  test("streaming CdcJob with jdbc sink converges to the oracle") {
    import spark.implicits._
    val root = tmpDir("jdbc-stream")
    val url = freshUrl("stream")
    val events = Seq(
      ChangeEvent(1, "insert", ts(1), "r1", "a", "c1", "scala", "v1", Map.empty),
      ChangeEvent(2, "update", ts(2), "r1", "a", "c2", "scala", "v2", Map.empty),
      ChangeEvent(3, "insert", ts(3), "r2", "b", "c3", "go", "w1",
        Map("stars" -> "42")), // drift field -> ALTERed column
      ChangeEvent(4, "delete", ts(4), "r1", "a", "c4", "scala", "", Map.empty),
      ChangeEvent(5, "insert", ts(5), "r3", "c", "c5", "rust", "z1", Map.empty))
    events.toDS().withColumn("seg", lit(0))
      .write.partitionBy("seg").parquet(s"$root/log")
    val cfg = graft.job.CdcJobConfig(
      logDir = s"$root/log", tablePath = "", checkpointDir = s"$root/ckpt",
      checkpointId = "jdbc-e2e",
      jdbcSink = Some(JdbcUpsert.Config(url, "repos",
        keyColumns = Seq("repo", "path"))))
    val job = graft.job.CdcJob(spark, cfg)
    val stats = job.runToCompletion()
    assert(stats.nonEmpty && stats.forall(!_.skippedAsApplied))
    val rows = queryAll(url,
      "SELECT \"repo\", \"path\", \"content\", \"stars\" FROM \"repos\" ORDER BY \"repo\"")
    assert(rows === Seq(
      Seq("r2", "b", "w1", "42"),
      Seq("r3", "c", "z1", null)))
    // crash-replay analog: a fresh checkpoint re-applies every event;
    // key-idempotent upserts converge to the same state
    val job2 = graft.job.CdcJob(spark, cfg.copy(checkpointDir = s"$root/ckpt2",
      checkpointId = "jdbc-e2e-replay"))
    job2.runToCompletion()
    val rows2 = queryAll(url,
      "SELECT \"repo\", \"path\", \"content\" FROM \"repos\" ORDER BY \"repo\"")
    assert(rows2 === Seq(Seq("r2", "b", "w1"), Seq("r3", "c", "z1")))
  }

  private def ts(l: Long) = new java.sql.Timestamp(1735689600000L + l * 1000)

  test("streaming jdbc sink: a stale event in a later micro-batch never rolls a row back") {
    import spark.implicits._
    val root = tmpDir("jdbc-monotone")
    val url = freshUrl("monotone")
    // one parquet file per segment, its mtime stepped so that the file
    // source admits seg 0 then seg 1, one per micro-batch
    Seq(
      ChangeEvent(5, "update", ts(5), "r", "A", "c5", "scala", "v5", Map.empty),
      ChangeEvent(3, "update", ts(3), "r", "A", "c3", "scala", "v3", Map.empty))
      .zipWithIndex.foreach { case (e, seg) =>
        val dir = new java.io.File(s"$root/log/seg=$seg")
        Seq(e).toDS().coalesce(1).write.parquet(dir.getPath)
        dir.listFiles().foreach(_.setLastModified(1000000000000L + seg * 2000L))
      }
    val job = graft.job.CdcJob(spark, graft.job.CdcJobConfig(
      logDir = s"$root/log", tablePath = "", checkpointDir = s"$root/ckpt",
      maxFilesPerTrigger = 1, checkpointId = "jdbc-monotone",
      jdbcSink = Some(JdbcUpsert.Config(url, "repos",
        keyColumns = Seq("repo", "path")))))
    val stats = job.runToCompletion()
    assert(stats.size === 2 && stats.forall(!_.skippedAsApplied),
      "one applied micro-batch per segment")
    // no dedup state: the guarded UPDATE finds the stored lsn 5 newer
    // and the INSERT's duplicate key is swallowed
    assert(queryAll(url, "SELECT \"path\", \"content\" FROM \"repos\"") ===
      Seq(Seq("A", "v5")))
  }

  test("duplicate-key detection is dialect-aware: 23505 always; 23000 only " +
      "with MySQL vendor code 1062; other integrity violations propagate") {
    def ex(state: String, vendor: Int) =
      new java.sql.SQLException("boom", state, vendor)
    // (sqlState, vendorCode) -> swallow-as-duplicate?
    val matrix = Seq(
      ("23505", 0)    -> true,  // standard/Derby/Postgres unique violation
      ("23505", 1062) -> true,
      ("23000", 1062) -> true,  // MySQL ER_DUP_ENTRY under generic state
      ("23000", 1048) -> false, // MySQL ER_BAD_NULL_ERROR — must propagate
      ("23000", 1452) -> false, // MySQL FK violation — must propagate
      ("23000", 0)    -> false, // generic integrity violation — propagate
      ("23502", 0)    -> false, // standard NOT NULL — propagate
      ("23503", 0)    -> false, // standard FK — propagate
      ("42000", 1062) -> false) // non-23 state never swallowed
    matrix.foreach { case ((state, vendor), expected) =>
      assert(JdbcUpsert.isDuplicateKey(ex(state, vendor)) === expected,
        s"state=$state vendor=$vendor")
    }
    assert(!JdbcUpsert.isDuplicateKey(new java.sql.SQLException("no state")))
  }

  test("streaming jdbc sink: a tombstone keeps a deleted key absent across batches and replays") {
    import spark.implicits._
    val root = tmpDir("jdbc-tombstone")
    val url = freshUrl("tombstone")
    Seq(
      // batch 0 deletes only: the tombstones must hold without a row
      Seq(ChangeEvent(5, "delete", ts(5), "r", "A", "c5", "scala", "", Map.empty),
        ChangeEvent(4, "delete", ts(4), "r", "C", "c4", "scala", "", Map.empty)),
      // a stale insert of A, and B's first row
      Seq(ChangeEvent(3, "insert", ts(3), "r", "A", "c3", "scala", "a-stale", Map.empty),
        ChangeEvent(2, "insert", ts(2), "r", "B", "c2", "scala", "b2", Map.empty)),
      // an insert of C at its delete's lsn: the delete wins the tie
      Seq(ChangeEvent(4, "insert", ts(4), "r", "C", "c4", "scala", "c-tie", Map.empty),
        ChangeEvent(7, "update", ts(7), "r", "B", "c7", "scala", "b7", Map.empty)),
      // a stale delete of B: the stored lsn 7 is newer
      Seq(ChangeEvent(6, "delete", ts(6), "r", "B", "c6", "scala", "", Map.empty)))
      .zipWithIndex.foreach { case (es, seg) =>
        val dir = new java.io.File(s"$root/log/seg=$seg")
        es.toDS().coalesce(1).write.parquet(dir.getPath)
        dir.listFiles().foreach(_.setLastModified(1000000000000L + seg * 2000L))
      }
    def run(ckpt: String): Seq[graft.lake.MergeStats] =
      graft.job.CdcJob(spark, graft.job.CdcJobConfig(
        logDir = s"$root/log", tablePath = "", checkpointDir = s"$root/$ckpt",
        maxFilesPerTrigger = 1, checkpointId = ckpt,
        jdbcSink = Some(JdbcUpsert.Config(url, "repos",
          keyColumns = Seq("repo", "path"))))).runToCompletion()
    val sql = "SELECT \"path\", \"content\", \"lsn\" FROM \"repos\" ORDER BY \"path\""
    assert(run("tomb").size === 4, "one applied micro-batch per segment")
    assert(queryAll(url, sql) === Seq(Seq("B", "b7", 7L)))
    // the whole log again under a fresh checkpointId: the ledger skips
    // nothing, the guards keep every key where it is
    assert(run("tomb-replay").forall(!_.skippedAsApplied))
    assert(queryAll(url, sql) === Seq(Seq("B", "b7", 7L)))
  }

  test("a swallowed duplicate key leaves the partition's transaction usable, " +
      "as PostgreSQL needs") {
    AbortingJdbcDriver.register()
    // one shuffle partition: each batch is one task, one transaction
    val one = spark.newSession()
    one.conf.set("spark.sql.shuffle.partitions", "1")
    import one.implicits._
    val url = AbortingJdbcDriver.Prefix + "memory:swallow;create=true"
    val firstWins = JdbcUpsert.Config(url, "t_swallow", keyColumns = Seq("k"),
      mode = JdbcUpsert.InsertIfAbsent)
    JdbcUpsert.write(Seq(("a", "first")).toDF("k", "v"), firstWins)
    JdbcUpsert.write(Seq(("a", "second"), ("b", "first"), ("c", "first"))
      .toDF("k", "v"), firstWins)
    assert(queryAll("jdbc:derby:memory:swallow",
      "SELECT \"k\", \"v\" FROM \"t_swallow\" ORDER BY \"k\"") ===
      Seq(Seq("a", "first"), Seq("b", "first"), Seq("c", "first")))
    // the CDC apply swallows a stale insert's duplicate key the same way
    val cdc = JdbcUpsert.Config(url, "t_swallow_cdc", keyColumns = Seq("repo", "path"))
    def apply(rows: (Long, String, String, String, String)*) =
      JdbcUpsert.applyCdcBatch(rows.toDF("lsn", "op", "repo", "path", "content"), cdc)
    apply((5L, "insert", "r", "a", "a5"))
    apply((3L, "insert", "r", "a", "a3"), (4L, "insert", "r", "b", "b4"),
      (6L, "insert", "r", "c", "c6"))
    assert(queryAll("jdbc:derby:memory:swallow",
      "SELECT \"path\", \"content\" FROM \"t_swallow_cdc\" ORDER BY \"path\"") ===
      Seq(Seq("a", "a5"), Seq("b", "b4"), Seq("c", "c6")))
  }

  test("a parquet -> JDBC micro-batch through CdcJob runs at most 3 Spark actions") {
    import spark.implicits._
    val root = tmpDir("jdbc-actions")
    val url = freshUrl("actions")
    // one segment: A's insert (drift key stars) loses to its update,
    // B's insert (drift key forks) loses to its delete of an absent row
    Seq(
      ChangeEvent(1, "insert", ts(1), "r", "A", "c1", "scala", "a1", Map("stars" -> "1")),
      ChangeEvent(2, "update", ts(2), "r", "A", "c2", "scala", "a2", Map.empty),
      ChangeEvent(3, "insert", ts(3), "r", "B", "c3", "go", "b3", Map("forks" -> "2")),
      ChangeEvent(4, "delete", ts(4), "r", "B", "c4", "go", "", Map.empty))
      .toDS().coalesce(1).write.parquet(s"$root/log/seg=0")
    // an isolated session with AQE off: AQE runs each query stage as its
    // own job, so one action = one job only without it. The session
    // shares the SparkContext, so the listener sees its jobs.
    val iso = spark.newSession()
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    val job = graft.job.CdcJob(iso, graft.job.CdcJobConfig(
      logDir = s"$root/log", tablePath = "", checkpointDir = s"$root/ckpt",
      checkpointId = "jdbc-actions",
      jdbcSink = Some(JdbcUpsert.Config(url, "repos", keyColumns = Seq("repo", "path")))))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val stats =
      try {
        val s = job.runToCompletion()
        org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
        s
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(stats.map(s => (s.inputRows, s.upserted, s.deleted, s.newColumns)) ===
      Seq((4L, 1L, 0L, Seq("forks", "stars"))))
    val n = jobs.get
    assert(n <= 3, s"one parquet -> JDBC micro-batch must run at most 3 Spark " +
      s"actions (stats, length probe, write), saw $n")
    assert(queryAll(url, "SELECT \"path\", \"content\", \"stars\" FROM \"repos\"") ===
      Seq(Seq("A", "a2", null)))
  }
}
