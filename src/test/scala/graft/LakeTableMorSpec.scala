package graft

import graft.envelope.ChangeEvent
import graft.lake.LakeTable
import org.apache.spark.sql.types.StructType

/** Merge-on-read mechanics of the LakeTable: delta appends leave old
  * files in place (no copy-on-write rewrite of touched buckets), the
  * compaction budget bounds per-bucket file counts, and the equal-lsn
  * delete/upsert tie-break is batching-independent (delete wins in both
  * the within-batch winner window and the cross-file resolve).
  */
class LakeTableMorSpec extends SparkSpec {

  private val baseDdl =
    "repo STRING, path STRING, commit STRING, lang STRING, content STRING"

  private def ev(lsn: Long, op: String, key: Int): ChangeEvent =
    ChangeEvent(lsn, op, new java.sql.Timestamp(0), s"r${key % 3}",
      s"p$key", f"c$lsn%040d", "scala", s"content-$lsn-k$key", Map.empty)

  test("merge appends deltas; prior files persist until the budget rewrites them") {
    import spark.implicits._
    val dir = tmpDir("mor-delta")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2,
      maxFilesPerBucket = 3)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))

    lake.merge(Seq(ev(1, "insert", 1), ev(2, "insert", 2)).toDS().toDF(), "t", 0L)
    val v1Files = lake.filesOf(lake.currentSnapshot.get)
    assert(v1Files.values.flatten.forall(_.startsWith("data/v1/delta/")))

    // a batch with a duplicate key: the stats count its events, and
    // upserts + deletes count its winners
    val st = lake.merge(Seq(ev(3, "update", 1), ev(1, "update", 1)).toDS().toDF(), "t", 1L)
    assert(st.inputRows === 2L)
    assert(st.upserted + st.deleted === 1L)
    val v2 = lake.currentSnapshot.get
    // the touched bucket keeps its v1 file AND gains a v2 delta — no
    // copy-on-write rewrite below the budget
    val v2All = lake.filesOf(v2).values.flatten.toSeq
    assert(v1Files.values.flatten.forall(v2All.contains),
      "delta merge must not drop or rewrite prior files under budget")
    assert(v2All.exists(_.startsWith("data/v2/delta/")))

    // read resolves the max-lsn winner across delta files
    val rows = lake.read().select("repo", "path", "content").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(rows(("r1", "p1")) === "content-3-k1")
    assert(rows(("r2", "p2")) === "content-2-k2")
  }

  test("compaction budget bounds per-bucket file counts across many merges") {
    import spark.implicits._
    val dir = tmpDir("mor-budget")
    val budget = 3
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2,
      maxFilesPerBucket = budget)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    (0 until 12).foreach { i =>
      // every batch touches the same keys -> same buckets keep growing
      lake.merge(Seq(ev(100 + i, "update", 1), ev(200 + i, "update", 2),
        ev(300 + i, if (i % 4 == 3) "delete" else "update", 3))
        .toDS().toDF(), "t", i.toLong)
      val counts = lake.filesOf(lake.currentSnapshot.get).view.mapValues(_.size)
      assert(counts.values.forall(_ <= budget),
        s"bucket over budget at batch $i: ${counts.toMap}")
    }
    // final state is still the max-lsn winner per key, tombstone dropped
    val rows = lake.read().select("path", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("p1") === "content-111-k1")
    assert(rows("p2") === "content-211-k2")
    assert(!rows.contains("p3")) // last op at lsn 311 was a delete
    // tombstone survives compaction (only compact(dropTombstones) GCs it)
    assert(lake.readMeta().filter("path = 'p3'").count() === 1L)
  }

  test("every live file lies under data/v<N>/(delta|rewrite)/__bucket=<b>/ of the version that wrote it") {
    import spark.implicits._
    val dir = tmpDir("mor-layout")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2, maxFilesPerBucket = 3)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    val layout = "data/v(\\d+)/(delta|rewrite)/__bucket=(\\d+)/[^/]+\\.parquet".r
    var writer = Map.empty[String, Long] // live path -> version it first appeared in
    def check(): Unit = {
      val s = lake.currentSnapshot.get
      lake.entriesOf(s).values.flatten.foreach { f =>
        val v = writer.getOrElse(f.path, s.version)
        writer += f.path -> v
        f.path match {
          case layout(n, _, b) =>
            assert(n.toLong === v, s"${f.path} written by v$v")
            assert(b === f.bucket, s"${f.path} listed in bucket ${f.bucket}")
          case other => fail(s"$other is outside data/v<N>/(delta|rewrite)/__bucket=<b>/")
        }
      }
    }
    def mergeAt(i: Int): Unit = {
      lake.merge(Seq(ev(100 + i, "update", 1), ev(200 + i, "update", 2))
        .toDS().toDF(), "t", i.toLong)
      check()
    }
    (0 until 5).foreach(mergeAt)
    assert(lake.filesOf(lake.currentSnapshot.get).values.flatten
      .exists(_.contains("/rewrite/")), "the merges never ran a minor compaction")
    lake.compact()
    check()
    mergeAt(5)
    assert(lake.read().count() === 2L)
  }

  test("equal-lsn delete/upsert pair resolves the same for any batching") {
    import spark.implicits._
    def finalKeys(batches: Seq[Seq[ChangeEvent]]): Set[String] = {
      val dir = tmpDir("mor-tie")
      val lake = LakeTable(spark, dir, Seq("repo", "path"), 2)
      lake.createIfAbsent(StructType.fromDDL(baseDdl))
      batches.zipWithIndex.foreach { case (b, i) =>
        lake.merge(b.toDS().toDF(), "t", i.toLong)
      }
      lake.read().select("path").collect().map(_.getString(0)).toSet
    }
    val up = ev(7, "update", 5)
    val del = up.copy(op = "delete", content = "")
    // same batch, delete first / upsert first, and split across batches in
    // both orders — delete must win everywhere
    assert(finalKeys(Seq(Seq(up, del))) === Set.empty)
    assert(finalKeys(Seq(Seq(del, up))) === Set.empty)
    assert(finalKeys(Seq(Seq(up), Seq(del))) === Set.empty)
    assert(finalKeys(Seq(Seq(del), Seq(up))) === Set.empty)
  }

  test("post-compaction read is shuffle-free: single-file buckets skip the winner window") {
    import spark.implicits._
    val dir = tmpDir("mor-fastread")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    lake.merge(Seq(ev(1, "insert", 1), ev(2, "insert", 2)).toDS().toDF(), "t", 0L)
    lake.merge(Seq(ev(3, "update", 1), ev(4, "delete", 2)).toDS().toDF(), "t", 1L)

    // multi-file buckets resolve through the window (Exchange present)
    val multiPlan = lake.read().queryExecution.executedPlan.toString
    assert(multiPlan.contains("Exchange") || multiPlan.contains("Window"),
      s"pre-compaction read should resolve:\n$multiPlan")
    val before = lake.read().select("path", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    lake.compact()
    assert(lake.filesOf(lake.currentSnapshot.get).values.forall(_.size <= 1))
    val fastPlan = lake.read().queryExecution.executedPlan.toString
    assert(!fastPlan.contains("Exchange") && !fastPlan.contains("Window"),
      s"compacted read must skip the winner window:\n$fastPlan")
    // same answer either way
    val after = lake.read().select("path", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after === before)
    assert(after === Map("p1" -> "content-3-k1"))
  }

  test("mixed buckets: single-file buckets bypass the winner window (bucket-scoped resolve)") {
    import spark.implicits._
    val dir = tmpDir("mor-mixed")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    // batch 0 spreads keys over both buckets; batch 1 touches only key 1,
    // so exactly the bucket holding key 1 becomes multi-file
    lake.merge((1 to 8).map(k => ev(k.toLong, "insert", k)).toDS().toDF(), "t", 0L)
    lake.merge(Seq(ev(100, "update", 1)).toDS().toDF(), "t", 1L)
    val files = lake.filesOf(lake.currentSnapshot.get)
    assert(files.values.exists(_.size > 1) && files.values.exists(_.size == 1),
      s"test precondition: one multi-file and one single-file bucket, got $files")

    // the plan unions a window-resolved branch (multi-file buckets) with a
    // plain scan branch (single-file buckets) — the compacted majority of
    // a 100 TB table never shuffles on read
    val plan = lake.read().queryExecution.executedPlan.toString
    assert(plan.contains("Union"), s"expected bucket-scoped union:\n$plan")
    assert(plan.contains("Window"), s"expected winner window on the multi branch:\n$plan")

    val rows = lake.read().select("path", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("p1") === "content-100-k1")
    (2 to 8).foreach(k => assert(rows(s"p$k") === s"content-$k-k$k"))
  }

  test("point lookup prunes to the key's single hash bucket") {
    import spark.implicits._
    val dir = tmpDir("mor-lookup")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 4)
    val created = lake.createIfAbsent(StructType.fromDDL(baseDdl))
    def bucketOf(repo: String, path: String): Long =
      Seq((repo, path)).toDF("repo", "path").select(lake.bucketExpr(created))
        .head().getLong(0)
    def key(k: Int): (String, String) = (s"r${k % 3}", s"p$k")
    // the hit, a tombstoned key and an absent key, all in one bucket
    val hit = key(5)
    val bucket = bucketOf(hit._1, hit._2)
    val tomb = (1 to 16).filter(_ != 5).find { k =>
      val (r, p) = key(k); bucketOf(r, p) == bucket }.get
    val absent = Iterator.from(0).map(i => ("nope", s"n$i"))
      .find { case (r, p) => bucketOf(r, p) == bucket }.get
    lake.merge((1 to 16).map(k => ev(k.toLong, "insert", k)).toDS().toDF(), "t", 0L)
    lake.merge(Seq(ev(100, "update", 5), ev(101, "delete", tomb)).toDS().toDF(), "t", 1L)
    val files = lake.filesOf(lake.currentSnapshot.get)
    assert(files.size > 1, "need several buckets")

    // lookup + collect runs no Spark job: the driver reads the bucket
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    val rows =
      try {
        val r = lake.lookup(Seq(hit._1, hit._2)).collect()
        org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(jobListener)
    assert(rows.length === 1 && rows.head.getAs[String]("content") === "content-100-k5")
    assert(jobs.get === 0, s"lookup + collect must run no Spark job, ran ${jobs.get}")

    // pruning: with every file outside the key's bucket deleted, the
    // lookups still answer from that bucket alone (opening a deleted
    // file would fail) — the hit, the tombstoned key and the absent key
    files.foreach { case (b, fs) =>
      if (b != bucket.toString) fs.foreach(f =>
        java.nio.file.Files.delete(java.nio.file.Paths.get(dir, f)))
    }
    assert(lake.lookup(Seq(hit._1, hit._2)).select("content").collect()
      .map(_.getString(0)).toSeq === Seq("content-100-k5"))
    assert(lake.lookup(Seq(key(tomb)._1, key(tomb)._2)).collect().isEmpty)
    assert(lake.lookup(Seq(absent._1, absent._2)).collect().isEmpty)
  }

  test("change feed returns each merge's winner set with provenance; compaction versions contribute nothing") {
    import spark.implicits._
    val dir = tmpDir("mor-feed")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    lake.merge(Seq(ev(1, "insert", 1), ev(2, "insert", 2)).toDS().toDF(), "t", 0L) // v1
    lake.merge(Seq(ev(3, "update", 1)).toDS().toDF(), "t", 1L)                     // v2
    lake.compact()                                                                 // v3: rewrite only
    lake.merge(Seq(ev(4, "delete", 2)).toDS().toDF(), "t", 3L)                     // v4

    val feed = lake.changeFeed(1, 4)
      .select("__version", "path", "__lsn", "__deleted").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(feed === Set((2L, "p1", 3L, false), (4L, "p2", 4L, true)),
      s"got $feed")
    // full-range feed reconstructs the current state when reduced by max lsn
    val all = lake.changeFeed(0, 4)
    assert(all.count() === 4)
    // empty range
    assert(lake.changeFeed(4, 4).count() === 0)
  }

  test("expireSnapshots vacuums orphaned files, keeps the table readable, and fences the feed") {
    import spark.implicits._
    val dir = tmpDir("mor-vacuum")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2, maxFilesPerBucket = 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    // enough same-key merges that minor compaction de-references old deltas
    (0 until 6).foreach { i =>
      lake.merge(Seq(ev(10 + i, "update", 1), ev(20 + i, "update", 2))
        .toDS().toDF(), "t", i.toLong)
    }
    val before = lake.read().select("path", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def diskFiles() = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
      try w.iterator().asScala.count(java.nio.file.Files.isRegularFile(_))
      finally w.close()
    }
    val filesBefore = diskFiles()
    val (expired, deleted) = lake.expireSnapshots(keepLast = 2)
    assert(expired > 0 && deleted > 0, s"expected GC work, got ($expired, $deleted)")
    assert(diskFiles() === filesBefore - deleted)
    // current state identical after vacuum
    val after = lake.read().select("path", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after === before)
    // retained window still serves the feed; expired range refuses
    val cur = lake.currentVersion.get
    assert(lake.changeFeed(cur - 1, cur).count() > 0)
    intercept[IllegalArgumentException] {
      lake.changeFeed(0, cur)
    }
  }

  test("optimistic concurrency: a commit against a stale parent is rejected, table state preserved") {
    import spark.implicits._
    val dir = tmpDir("mor-occ")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    lake.merge(Seq(ev(1, "insert", 1)).toDS().toDF(), "t", 0L) // v1
    val v1 = lake.currentSnapshot.get

    // sibling writer advances the table
    lake.merge(Seq(ev(2, "insert", 2)).toDS().toDF(), "t2", 0L) // v2

    // a commit prepared against v1 (stale parent) must be rejected loudly
    val stale = v1.copy(version = 2L, parentVersion = 1L)
    intercept[java.util.ConcurrentModificationException] {
      lake.commitSnapshot(stale)
    }
    // the sibling's commit survives untouched
    assert(lake.currentVersion.get === 2L)
    assert(lake.read().count() === 2L)
  }

  test("time travel resolves winners as of the requested version") {
    import spark.implicits._
    val dir = tmpDir("mor-tt")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    lake.merge(Seq(ev(1, "insert", 1)).toDS().toDF(), "t", 0L)
    lake.merge(Seq(ev(2, "update", 1)).toDS().toDF(), "t", 1L)
    assert(lake.readVersion(1).select("content").head().getString(0)
      === "content-1-k1")
    assert(lake.readVersion(2).select("content").head().getString(0)
      === "content-2-k1")
  }

  test("vacuum never touches an in-flight writer's unreferenced delta (version > current)") {
    import spark.implicits._
    val dir = tmpDir("mor-vacuum-live")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2, maxFilesPerBucket = 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    (0 until 6).foreach { i =>
      lake.merge(Seq(ev(10 + i, "update", 1)).toDS().toDF(), "t", i.toLong)
    }
    val cur = lake.currentVersion.get
    // a concurrent writer has written (but not yet committed) v cur+1:
    // its delta files are referenced by NO snapshot at walk time
    val inflight = java.nio.file.Paths.get(dir,
      s"data/v${cur + 1}/delta/__bucket=0/part-inflight.parquet")
    java.nio.file.Files.createDirectories(inflight.getParent)
    java.nio.file.Files.writeString(inflight, "pending commit bytes")
    // and an old crashed commit left an orphan in an EXPIRED version dir:
    // that one IS reclaimable once the version expires
    val orphan = java.nio.file.Paths.get(dir,
      "data/v1/delta/__bucket=0/part-orphan.parquet")
    java.nio.file.Files.createDirectories(orphan.getParent)
    java.nio.file.Files.writeString(orphan, "crashed commit bytes")
    val (expired, deleted) = lake.expireSnapshots(keepLast = 2)
    assert(expired > 0 && deleted > 0)
    assert(java.nio.file.Files.exists(inflight),
      "vacuum deleted an in-flight writer's uncommitted delta")
    assert(!java.nio.file.Files.exists(orphan),
      "expired-version orphan from a crashed commit must be reclaimed")
    assert(lake.read().count() > 0)
  }

  test("lookup casts caller values to the key column types before bucket hashing") {
    import spark.implicits._
    val dir = tmpDir("mor-lookup-cast")
    val lake = LakeTable(spark, dir, Seq("id"), 8)
    lake.createIfAbsent(StructType.fromDDL("id BIGINT, content STRING"))
    val batch = (1 to 20).map(i => (i.toLong, s"v$i", i.toLong, "insert"))
      .toDF("id", "content", "lsn", "op")
    lake.merge(batch, "t", 0L)
    // exact-type lookup
    assert(lake.lookup(Seq(5L)).select("content").head().getString(0) === "v5")
    // string and int callers must hash like the writer's BIGINT column —
    // an uncast Literal("5") prunes to the wrong bucket and finds nothing
    assert(lake.lookup(Seq("5")).select("content").head().getString(0) === "v5")
    assert(lake.lookup(Seq(5)).select("content").head().getString(0) === "v5")
    // unparseable values fail loudly instead of returning "not found"
    intercept[IllegalArgumentException] { lake.lookup(Seq("not-a-number")) }
  }

  test("manifest chain: snapshots reference manifests and the chain consolidates") {
    import spark.implicits._
    val dir = tmpDir("mor-manifest")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2, maxFilesPerBucket = 4)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    // 30 merges > ManifestChainMax(24): forces at least one consolidation
    (0 until 30).foreach { i =>
      lake.merge(Seq(ev(1000 + i, "update", 1), ev(2000 + i, "update", 2))
        .toDS().toDF(), "t", i.toLong)
    }
    val s = lake.currentSnapshot.get
    // snapshot JSON carries manifest refs, never data file paths
    val snapJson = java.nio.file.Files.readString(java.nio.file.Paths.get(
      dir, "_snapshots", s"snapshot-${s.version}.json"))
    assert(!snapJson.contains(".parquet"),
      "snapshot must reference manifests, not inline data files")
    assert(s.manifests.nonEmpty && s.manifests.size <= 25,
      s"chain must consolidate, got ${s.manifests.size} manifests")
    // the fold matches reality: every referenced file exists on disk
    val files = lake.filesOf(s)
    assert(files.values.flatten.nonEmpty)
    files.values.flatten.foreach { rel =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, rel)),
        s"manifest references missing file $rel")
    }
    // state correct after 30 merges + consolidations + minor compactions
    val rows = lake.read().select("path", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows === Map("p1" -> "content-1029-k1", "p2" -> "content-2029-k2"))
    // time travel folds an OLD snapshot's chain correctly
    assert(lake.readVersion(5).count() === 2L)
  }

  test("property: random merge/compact/expire sequences keep the manifest fold " +
      "equal to a reference state machine") {
    import spark.implicits._
    val dir = tmpDir("mor-prop")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 4, maxFilesPerBucket = 3)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    val rnd = new scala.util.Random(42) // seeded: deterministic failure repro
    // reference: key -> (lsn, deleted, content)
    val ref = scala.collection.mutable.Map.empty[(String, String), (Long, Boolean, String)]
    var lsn = 0L
    var batchId = 0L
    (0 until 30).foreach { step =>
      rnd.nextInt(10) match {
        case 8 => lake.compact(dropTombstones = false)
        case 9 => lake.expireSnapshots(keepLast = 2)
        case _ =>
          val events = (0 until 1 + rnd.nextInt(6)).map { _ =>
            lsn += 1
            val k = 1 + rnd.nextInt(12)
            val op = if (rnd.nextInt(5) == 0) "delete" else "update"
            val e = ev(lsn, op, k)
            ref((e.repo, e.path)) = (lsn, op == "delete", e.content)
            e
          }
          lake.merge(events.toDS().toDF(), "prop", batchId)
          batchId += 1
      }
    }
    val got = lake.read().select("repo", "path", "content").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val want = ref.collect { case (k, (_, false, c)) => k -> c }.toMap
    assert(got === want,
      "manifest-folded state diverged from the reference state machine")
    // the fold references only files that exist
    val files = lake.filesOf(lake.currentSnapshot.get)
    files.values.flatten.foreach { rel =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, rel)), rel)
    }
  }

  test("a non-compacting merge commit runs exactly ONE Spark job") {
    // AQE materializes each query stage as its own job, which makes the
    // job count a stage count; an isolated session with it off makes one
    // action = one job, so the assertion measures ACTIONS (data passes
    // over the batch). It shares the SparkContext the listener watches.
    val iso = spark.newSession()
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    import iso.implicits._
    val dir = tmpDir("mor-onejob")
    val lake = LakeTable(iso, dir, Seq("repo", "path"), 2, maxFilesPerBucket = 8)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    lake.merge(Seq(ev(1, "insert", 1)).toDS().toDF(), "t", 0L)
    // warm batch done; now count jobs during a steady-state merge. The
    // one-job property is the replay throughput's serial-floor budget:
    // stats + drift keys all ride the write job's
    // observe() — a second job here is a regression even if tests pass.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // two steady-state merges, each with its winner window
      Seq(1L, 2L).foreach { batchId =>
        // pre-materialized input so the job count is the MERGE's, not
        // the fixture's
        val batch = Seq(ev(2 * batchId, "update", 1), ev(2 * batchId + 1, "insert", 2))
          .toDS().toDF().localCheckpoint()
        org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
        jobs.set(0)
        lake.merge(batch, "t", batchId)
        org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
        val n = jobs.get
        assert(n === 1,
          s"merge commit (batch $batchId) must be exactly one Spark action, saw $n")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("merging an empty batch commits no version; the next batch id commits") {
    // empty batches reach merge from a jsonl changelog: a batch whose
    // lines are all malformed (they go to the DLQ)
    import spark.implicits._
    val dir = tmpDir("mor-empty")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    lake.merge(Seq(ev(1, "insert", 1)).toDS().toDF(), "t", 0L)
    val before = lake.currentSnapshot.get
    val empty = lake.merge(Seq.empty[ChangeEvent].toDS().toDF(), "t", 1L)
    assert(!empty.skippedAsApplied && empty.inputRows === 0L)
    val after = lake.currentSnapshot.get
    assert(after.version === before.version)
    assert(after.appliedUpTo === before.appliedUpTo)
    val next = lake.merge(Seq(ev(2, "update", 1)).toDS().toDF(), "t", 2L)
    assert(!next.skippedAsApplied && next.version === before.version + 1)
    assert(lake.currentSnapshot.get.appliedUpTo === Map("t" -> 2L))
    assert(lake.read().select("content").collect().map(_.getString(0)).toSeq ===
      Seq("content-2-k1"))
  }

  test("a merge of a parquet-read batch plans exactly ONE exchange, with salt factor 1 and > 1") {
    // 16 buckets on local[4] → salt factor 1; 2 buckets → 2. With a
    // literal salt the planner added a second full exchange on
    // (__bucket, keys) ahead of the winner window.
    import spark.implicits._
    val src = tmpDir("mor-onex-src") + "/in"
    (1 to 200).map(i => ev(i.toLong, if (i % 9 == 0) "delete" else "update", i % 37))
      .toDS().repartition(3).write.parquet(src)
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Seq(16 -> 1, 2 -> 2).foreach { case (buckets, salts) =>
      val lake = LakeTable(spark, tmpDir(s"mor-onex-$buckets"), Seq("repo", "path"), buckets)
      lake.createIfAbsent(StructType.fromDDL(baseDdl))
      assert(lake.saltFactor(lake.currentSnapshot.get) === salts)
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.execution.SparkPlan]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
          plans.add(qe.executedPlan); ()
        }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
      spark.listenerManager.register(listener)
      try {
        lake.merge(spark.read.parquet(src), "t", 0L)
        org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      val captured = plans.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan]).toSeq
      val exchanges = captured.flatMap(p => Plans.collect(p) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      })
      assert(exchanges.size === 1,
        s"$buckets buckets: expected one exchange, got:\n${captured.mkString("\n")}")
      // one delta file per touched bucket per salt at most
      val files = lake.filesOf(lake.currentSnapshot.get)
      assert(files.values.forall(_.size <= salts), files)
      // and the winners are right
      val want = (1 to 200).groupBy(_ % 37).map { case (k, is) => k -> is.max }
        .collect { case (k, i) if i % 9 != 0 => (s"p$k", s"content-$i-k$k") }.toSet
      assert(lake.read().select("path", "content").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet === want)
    }
  }

  test("snapshot codec names format incompatibilities instead of opaque mapping errors") {
    import graft.lake.LakeTable.SnapshotCodec
    // a pre-manifest (formatVersion 1) snapshot inlined `files` and had no
    // `manifests` field — the reader must explain that, not leak json4s
    val legacy =
      """{"version":3,"schemaDdl":"repo STRING","numBuckets":2,
        |"keyCols":["repo"],"files":{"0":["data/v1/f.parquet"]},
        |"appliedUpTo":{},"lineage":{},"parentVersion":2}""".stripMargin
    val e = intercept[IllegalStateException](SnapshotCodec.fromJson(legacy))
    assert(e.getMessage.contains("formatVersion"))
    // a FUTURE format is rejected with an upgrade hint, not misread
    val future = SnapshotCodec.toJson(
      graft.lake.Snapshot(1L, "repo STRING", 2, Seq("repo"), Nil,
        Map.empty, 0L, Seq("repo"), formatVersion = 99))
    val e2 = intercept[IllegalArgumentException](SnapshotCodec.fromJson(future))
    assert(e2.getMessage.contains("newer than this reader"))
    // round-trip of the current format is exact
    val s = graft.lake.Snapshot(7L, "repo STRING, path STRING", 4,
      Seq("repo", "path"), Seq("_manifests/m-7-abc.json"),
      Map("ck" -> 3L), 6L, Seq("repo", "path"))
    assert(SnapshotCodec.fromJson(SnapshotCodec.toJson(s)) === s)
    // a format-2 snapshot written while snapshots still carried the
    // per-bucket `lineage` map reads; the key is ignored
    val withLineage =
      """{"version":7,"schemaDdl":"repo STRING, path STRING","numBuckets":4,
        |"keyCols":["repo","path"],"manifests":["_manifests/m-7-abc.json"],
        |"appliedUpTo":{"ck":3},"lineage":{"0":42},"parentVersion":6,
        |"baseCols":["repo","path"],"formatVersion":2}""".stripMargin
    assert(SnapshotCodec.fromJson(withLineage) === s)
  }

  test("major compaction type-sniffs drift columns: all-date drift lands " +
      "DateType, mixed stays string, pre-drift rows read typed NULL, " +
      "and the change feed stays consistent under the retyped schema") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DateType, StringType, TimestampType}
    val dir = tmpDir("mor-driftsniff")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    // batch 0: pre-drift file (no extra keys)
    lake.merge(Seq(ev(1, "insert", 1)).toDS().toDF(), "t", 0L)
    // batch 1: three drift columns — all-dates, all-datetimes, and mixed
    lake.merge(Seq(
      ev(2, "insert", 2).copy(extra = Map(
        "seen" -> "2024-01-02", "mod" -> "2024-01-02T10:30:00", "note" -> "hello")),
      ev(3, "insert", 4).copy(extra = Map(
        "seen" -> "2023-12-31", "mod" -> "2023-12-31 23:59:59", "note" -> "2024-01-01")))
      .toDS().toDF(), "t", 1L)
    // pre-compact: drift columns surface as auto-ALTERed strings
    assert(lake.schema("seen").dataType === StringType)
    lake.compact()
    // post-compact: the DDL ladder (pgsql.go:326-363) typed the uniform
    // columns; the mixed column keeps varchar semantics
    assert(lake.schema("seen").dataType === DateType)
    assert(lake.schema("mod").dataType === TimestampType)
    assert(lake.schema("note").dataType === StringType)
    val rows = lake.read().select("path", "seen", "mod").collect()
      .map(r => r.getString(0) -> (Option(r.getDate(1)), Option(r.getTimestamp(2))))
      .toMap
    assert(rows("p1") === ((None, None))) // pre-drift row: typed NULLs
    assert(rows("p2")._1 === Some(java.sql.Date.valueOf("2024-01-02")))
    assert(rows("p4")._2 ===
      Some(java.sql.Timestamp.valueOf("2023-12-31 23:59:59")))
    // change feed over PRE-compact versions under the retyped current
    // schema: old delta files carry the values only in the extra map, and
    // the lift converts with the same ladder
    val feed = lake.changeFeed(0L, lake.currentVersion.get)
    assert(feed.schema("seen").dataType === DateType)
    val feedSeen = feed.filter(col("path") === "p2").select("seen").collect()
    assert(feedSeen.map(_.getDate(0)).toSeq ===
      Seq(java.sql.Date.valueOf("2024-01-02")))
    // a second compact is a no-op for types (nothing sniffable remains)
    lake.compact()
    assert(lake.schema("seen").dataType === DateType)
  }

  test("merge winner reduction is key-exact under the fused (bucket, salt, key) window") {
    // merge's one-exchange shape partitions by (__bucket, __salt) and
    // windows by (__bucket, __salt, keys); both extras are pure functions
    // of the keys, so the winner per key must be EXACTLY what a plain
    // key window picks — pinned here over a batch with multi-row keys,
    // equal-lsn delete/upsert ties, and enough keys to populate every
    // bucket and salt group (local[4] fleet over 2 buckets ⇒ salt > 1;
    // the salt is hashed independently of the bucket, asserted below).
    import spark.implicits._
    val dir = tmpDir("mor-fusedwin")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2, maxFilesPerBucket = 32)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    val rnd = new scala.util.Random(11)
    val evs = (0 until 400).map { _ =>
      val k = rnd.nextInt(60)
      val lsn = rnd.nextInt(40).toLong
      val op = Seq("insert", "update", "delete")(rnd.nextInt(3))
      // content derived from (key, lsn, op): physical duplicates of the
      // winner triple carry identical payloads, so the row_number pick
      // among them cannot affect the comparison
      ChangeEvent(lsn, op, new java.sql.Timestamp(0), s"r${k % 5}", s"p$k",
        f"c$lsn%040d", "scala", s"c-$k-$lsn-$op", Map.empty)
    }
    val snap = lake.currentSnapshot.get
    val salts = lake.saltFactor(snap)
    assert(salts > 1)
    val groups = evs.toDS().select(lake.bucketExpr(snap), lake.saltExpr(snap, salts))
      .distinct().count()
    assert(groups === 2L * salts,
      s"(bucket, salt) pairs must cover all ${2 * salts} groups, got $groups")
    lake.merge(evs.toDS().toDF(), "t", 0L)
    // reference winner per key: max by (lsn, delete-wins, op) — the same
    // total order the merge window sorts descending
    val expect = evs.groupBy(e => (e.repo, e.path)).flatMap { case (_, rows) =>
      val w = rows.maxBy(e => (e.lsn, if (e.op == "delete") 1 else 0, e.op))
      if (w.op == "delete") None
      else Some((w.repo, w.path, w.content))
    }.toSet
    val got = lake.read().select("repo", "path", "content").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === expect)
  }
}
