package graft

import graft.envelope.ChangeEvent
import graft.lake.LakeTable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** `LakeTable.lookup` picks a key's winner on the driver from the few
  * candidate rows of its bucket; `read()` resolves every key through the
  * winner window. The two must agree on every key, on tables that
  * exercise each part of the resolve rule.
  */
class LakeLookupSpec extends SparkSpec {

  private val baseDdl =
    "repo STRING, path STRING, commit STRING, lang STRING, content STRING"

  private def ev(lsn: Long, op: String, key: Int,
      extra: Map[String, String] = Map.empty): ChangeEvent =
    ChangeEvent(lsn, op, new java.sql.Timestamp(0), s"r${key % 3}",
      s"p$key", f"c$lsn%040d", "scala", s"content-$lsn-k$key", extra)

  private def key(k: Int): (String, String) = (s"r${k % 3}", s"p$k")

  /** lookup(k) against read() filtered to k, for every present key, every
    * key ever written, and keys that never existed.
    */
  private def assertLookupMatchesRead(lake: LakeTable, keys: Seq[(String, String)]): Unit = {
    val read = lake.read()
    val byKey = read.collect().toSeq.groupBy(r =>
      (r.getAs[String]("repo"), r.getAs[String]("path")))
    assert(byKey.values.forall(_.size == 1), "read() must hold one row per key")
    val absent = Seq(("r9", "nope"), ("r0", "p1"), ("", ""))
    (byKey.keys.toSeq ++ keys ++ absent).distinct.foreach { case k @ (repo, path) =>
      val hit = lake.lookup(Seq(repo, path))
      assert(hit.schema === read.schema, s"lookup $k schema")
      val got: Seq[Row] = hit.collect().toSeq
      assert(got === byKey.getOrElse(k, Nil), s"lookup $k")
    }
  }

  test("lookup(k) equals read().filter(k) for every key, before and after compact()") {
    import spark.implicits._
    val dir = tmpDir("lookup-equiv")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 4, maxFilesPerBucket = 8)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    val n = 40
    def merge(evs: Seq[ChangeEvent], batch: Long): Unit =
      lake.merge(evs.toDS().toDF(), "t", batch)

    merge((0 until n).map(k => ev(k + 1L, "insert", k)), 0L)
    // drift: `seen` (all dates) and `stars` ride only in the delta files'
    // extra map until compaction; every fifth key is deleted
    merge((0 until n by 2).map { k =>
      if (k % 5 == 0) ev(100L + k, "delete", k)
      else ev(100L + k, "update", k,
        Map("seen" -> f"2024-01-${k % 28 + 1}%02d", "stars" -> s"$k"))
    }, 1L)
    // equal-lsn delete/upsert pairs split across two files, in both
    // orders (the tombstone wins either way), plus a re-insert after a
    // delete and a late update that carries no drift values
    merge(Seq(ev(300, "update", 7), ev(301, "delete", 11),
      ev(302, "update", 13, Map("stars" -> "x"))), 2L)
    merge(Seq(ev(300, "delete", 7), ev(301, "update", 11),
      ev(400, "insert", 10), ev(401, "update", 3)), 3L)

    val files = lake.filesOf(lake.currentSnapshot.get)
    assert(files.values.exists(_.size > 1),
      s"test precondition: multi-file buckets, got $files")
    assert(lake.schema.fieldNames.toSeq.containsSlice(Seq("seen", "stars")) &&
      !lake.physicalSchema.fieldNames.contains("extra"),
      "test precondition: drift columns carried only in the extra map")
    val keys = (0 until n).map(key)
    assertLookupMatchesRead(lake, keys)
    assert(lake.lookup(Seq("r1", "p7")).count() === 0L)
    assert(lake.lookup(Seq("r2", "p11")).count() === 0L)
    assert(lake.lookup(Seq("r1", "p10")).select("content").head().getString(0)
      === "content-400-k10")
    assert(lake.lookup(Seq("r2", "p2")).select("seen").head().getString(0)
      === "2024-01-03")

    lake.compact()
    assert(lake.filesOf(lake.currentSnapshot.get).values.forall(_.size == 1),
      "test precondition: compact() leaves single-file buckets")
    assert(lake.schema("seen").dataType === org.apache.spark.sql.types.DateType)
    assertLookupMatchesRead(lake, keys)
  }

  test("lookup reads at call time: its result outlives the table's files") {
    import spark.implicits._
    val dir = tmpDir("lookup-calltime")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    lake.merge(Seq(ev(1, "insert", 1)).toDS().toDF(), "t", 0L)
    lake.merge(Seq(ev(2, "update", 1)).toDS().toDF(), "t", 1L)
    val hit = lake.lookup(Seq("r1", "p1"))
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
    finally w.close()
    assert(hit.select("content").collect().map(_.getString(0)).toSeq === Seq("content-2-k1"))
  }

  test("a lookup after a drift column appears sees it: the reader follows the schema") {
    import spark.implicits._
    val dir = tmpDir("lookup-drift")
    val lake = LakeTable(spark, dir, Seq("repo", "path"), 2)
    lake.createIfAbsent(StructType.fromDDL(baseDdl))
    lake.merge(Seq(ev(1, "insert", 1), ev(2, "insert", 2)).toDS().toDF(), "t", 0L)
    val before = lake.lookup(Seq("r1", "p1"))
    assert(before.select("content").collect().map(_.getString(0)).toSeq === Seq("content-1-k1"))
    assert(!before.columns.contains("stars"))
    // a new drift column lands in the same key's bucket
    lake.merge(Seq(ev(3, "update", 1, Map("stars" -> "7"))).toDS().toDF(), "t", 1L)
    val after = lake.lookup(Seq("r1", "p1"))
    assert(after.select("content", "stars").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("content-3-k1", "7")))
    assertLookupMatchesRead(lake, Seq(key(1), key(2)))
  }
}
