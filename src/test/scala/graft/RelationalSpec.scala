package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

/** asofJoin / sessionize semantics, edge cases, and plan shape. */
class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asofJoin picks the latest right row at-or-before each left time, inner semantics") {
    val left = Seq(
      (1L, "k1", ts("2024-01-01 10:00:00")), // matches e2 (09:59), not e3 (10:01)
      (2L, "k1", ts("2024-01-01 12:00:00")), // matches e3
      (3L, "k2", ts("2024-01-01 08:00:00")), // no event before → dropped
      (4L, "k3", ts("2024-01-01 08:00:00"))  // key with no events → dropped
    ).toDF("id", "k", "t")
    val right = Seq(
      (10L, "k1", ts("2024-01-01 09:00:00"), 1.0),
      (11L, "k1", ts("2024-01-01 09:59:00"), 2.0),
      (12L, "k1", ts("2024-01-01 10:01:00"), 3.0),
      (13L, "k2", ts("2024-01-01 09:00:00"), 4.0)
    ).toDF("eid", "k", "t", "v")
    val out = Relational.asofJoin(left, right, "k", "k", "t", "t",
      Seq("eid", "v"))
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSeq ===
      Seq((1L, 11L, 2.0), (2L, 12L, 3.0)))
  }

  test("asofJoin is inclusive: a right row at exactly the left time matches") {
    val left = Seq((1L, "k", ts("2024-01-01 10:00:00"))).toDF("id", "k", "t")
    val right = Seq((7L, "k", ts("2024-01-01 10:00:00"), 9.0))
      .toDF("eid", "k", "t", "v")
    val out = Relational.asofJoin(left, right, "k", "k", "t", "t", Seq("eid", "v"))
    assert(out.select("asof_eid").as[Long].head() === 7L)
  }

  test("asofJoin breaks equal-(key,time) right ties by the largest payload struct") {
    val left = Seq((1L, "k", ts("2024-01-01 10:00:00"))).toDF("id", "k", "t")
    val right = Seq(
      (5L, "k", ts("2024-01-01 09:00:00"), 1.0),
      (9L, "k", ts("2024-01-01 09:00:00"), 2.0))
      .toDF("eid", "k", "t", "v")
    val out = Relational.asofJoin(left, right, "k", "k", "t", "t", Seq("eid", "v"))
    assert(out.select("asof_eid").as[Long].head() === 9L) // max eid wins
  }

  test("asofJoin leftOuter keeps unmatched left rows with NULL asof columns") {
    val left = Seq(
      (1L, "k1", ts("2024-01-01 10:00:00")), // matched
      (2L, "k1", ts("2024-01-01 08:00:00")), // before any right row → NULL
      (3L, "k2", ts("2024-01-01 10:00:00"))  // key absent on right → NULL
    ).toDF("id", "k", "t")
    val right = Seq((7L, "k1", ts("2024-01-01 09:00:00"), 1.5))
      .toDF("eid", "k", "t", "v")
    val out = Relational.asofJoin(left, right, "k", "k", "t", "t",
        Seq("eid", "v"), leftOuter = true)
      .orderBy("id").collect()
    assert(out.length === 3)
    assert(out(0).getLong(3) === 7L && out(0).getDouble(4) === 1.5)
    assert(out(1).isNullAt(3) && out(1).isNullAt(4))
    assert(out(2).isNullAt(3) && out(2).isNullAt(4))
  }

  test("asofJoin plans one exchange on the key — no cartesian/range-join expansion") {
    val left = Seq((1L, "k", ts("2024-01-01 10:00:00"))).toDF("id", "k", "t")
    val right = Seq((5L, "k", ts("2024-01-01 09:00:00"), 1.0))
      .toDF("eid", "k", "t", "v")
    val plan = Relational.asofJoin(left, right, "k", "k", "t", "t", Seq("eid", "v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // the union-and-sweep shape: one window over the union
    assert("(?i)window".r.findAllIn(plan).nonEmpty)
  }

  test("rangeJoin returns exactly the pairs inside the closed window, incl. both boundaries") {
    val left = Seq(
      (1L, "k", ts("2024-01-01 12:00:00")),
      (2L, "k", ts("2024-01-02 00:00:00"))
    ).toDF("lid", "k", "t")
    val right = Seq(
      (10L, "k", ts("2024-01-01 11:00:00")), // 1h before l1: in
      (11L, "k", ts("2024-01-01 12:00:00")), // exactly at l1: in (upper bound)
      (12L, "k", ts("2023-12-31 12:00:00")), // exactly 24h before l1: in (lower bound)
      (13L, "k", java.sql.Timestamp.from(   // 24h + 1µs before l1: out
        ts("2023-12-31 12:00:00").toInstant.minusNanos(1000))),
      (14L, "k", ts("2024-01-01 12:00:01")), // after l1, 12h before l2: in for l2 only
      (15L, "x", ts("2024-01-01 11:30:00"))  // other key: out
    ).toDF("rid", "k", "t")
    val out = Relational.rangeJoin(left, right, "k", "k", "t", "t",
      lowerSeconds = -86400L, upperSeconds = 0L, rightCols = Seq("rid"))
      .select("lid", "r_rid").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L), (2L, 14L)))
  }

  test("rangeJoin matches a brute-force reference on 2k random events and plans an equi-join") {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 2000).map { i =>
      (i.toLong, s"k${rnd.nextInt(10)}",
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(500000) * 1000L))
    }
    val df = rows.toDF("id", "k", "t")
    val lo = -900L; val hi = 300L
    val joined = Relational.rangeJoin(
      df.select(col("id").as("lid"), col("k"), col("t").as("lt")),
      df, "k", "k", "lt", "t", lo, hi, Seq("id"))
    val got = joined.select("lid", "r_id").as[(Long, Long)].collect().toSet
    val byKey = rows.groupBy(_._2)
    val want = (for {
      (lid, k, lt) <- rows
      (rid, _, rt) <- byKey(k)
      d = rt.getTime - lt.getTime
      if d >= lo * 1000 && d <= hi * 1000
    } yield (lid, rid)).toSet
    assert(got === want)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("sessionize splits on gaps strictly greater than gapSeconds, exact to the microsecond") {
    val ev = Seq(
      // k1: 3 events, gap of exactly 1800s between #1/#2 (same session),
      // then 1800.000001s to #3 (new session)
      (1L, "k1", ts("2024-01-01 10:00:00")),
      (2L, "k1", ts("2024-01-01 10:30:00")),
      (3L, "k1", java.sql.Timestamp.from(
        ts("2024-01-01 11:00:00").toInstant.plusNanos(1000))),
      // k2: single event → single session
      (4L, "k2", ts("2024-01-01 00:00:00"))
    ).toDF("eid", "k", "t")
    val out = Relational.sessionize(ev, "k", "t", gapSeconds = 1800)
      .orderBy("k", "session_seq").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("k1", 1L, 2L), ("k1", 2L, 1L), ("k2", 1L, 1L)))
  }

  test("sessionize matches a brute-force reference on 1k random events across 20 keys") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 1000).map { i =>
      (i.toLong, s"k${rnd.nextInt(20)}",
        new java.sql.Timestamp(1700000000000L + rnd.nextInt(200000) * 1000L +
          rnd.nextInt(1000)))
    }
    val df = rows.toDF("eid", "k", "t")
    val got = Relational.sessionize(df, "k", "t", gapSeconds = 600)
      .select("k", "session_seq", "n_events").as[(String, Long, Long)]
      .collect().toSet
    val want = rows.groupBy(_._2).flatMap { case (k, evs) =>
      val sorted = evs.map(_._3.getTime).sorted
      val seqs = scala.collection.mutable.ArrayBuffer[Long]()
      var seq = 0L; var prev = Long.MinValue
      val counts = scala.collection.mutable.LinkedHashMap[Long, Long]()
      sorted.foreach { t =>
        if (prev == Long.MinValue || t - prev > 600000L) seq += 1
        counts(seq) = counts.getOrElse(seq, 0L) + 1
        prev = t
      }
      counts.map { case (s, n) => (k, s, n) }
    }.toSet
    assert(got === want)
  }

  test("input-contract guards: rangeJoin rejects non-TIMESTAMP time columns and reserved/colliding names fail fast") {
    val l = Seq((1L, "k", ts("2024-01-01 12:00:00"))).toDF("lid", "k", "t")
    val r = Seq((9L, "k", ts("2024-01-01 11:00:00"))).toDF("rid", "k", "t")
    // NTZ under a DST-rules session zone is rejected: the session-zone
    // bucketing cast is not width-preserving across a fall-back
    // transition and would overflow the <=2-bucket explode. Under a
    // fixed-offset zone (UTC here) the cast is a pure translation, so
    // NTZ is accepted and must produce exactly the TIMESTAMP result.
    val lNtz = l.withColumn("t", col("t").cast("timestamp_ntz"))
    val rNtz = r.withColumn("t", col("t").cast("timestamp_ntz"))
    // the DST-rules zone lives in a child session: the shared session's
    // zone is never touched, so no other spec can observe it
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val lNtzLa = la.sql(
      "SELECT 1L AS lid, 'k' AS k, TIMESTAMP_NTZ '2024-01-01 12:00:00' AS t")
    val e1 = intercept[IllegalArgumentException] {
      Relational.rangeJoin(lNtzLa, r, "k", "k", "t", "t", -3600L, 0L, Seq("rid"))
    }
    assert(e1.getMessage.contains("must be TIMESTAMP"))
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    val wantPairs = Relational
      .rangeJoin(l, r, "k", "k", "t", "t", -3600L, 0L, Seq("rid"))
      .select("lid", "r_rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val ntzPairs = Relational
      .rangeJoin(lNtz, rNtz, "k", "k", "t", "t", -3600L, 0L, Seq("rid"))
      .select("lid", "r_rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(ntzPairs === wantPairs && wantPairs === Set((1L, 9L)))
    // a non-time type is always rejected
    val e1b = intercept[IllegalArgumentException] {
      Relational.rangeJoin(l.withColumn("t", col("lid")), r,
        "k", "k", "t", "t", -3600L, 0L, Seq("rid"))
    }
    assert(e1b.getMessage.contains("must be TIMESTAMP"))
    // reserved internal names collide loudly, not silently
    val e2 = intercept[IllegalArgumentException] {
      Relational.rangeJoin(l.withColumnRenamed("lid", "__bucket"), r,
        "k", "k", "t", "t", -3600L, 0L, Seq("rid"))
    }
    assert(e2.getMessage.contains("reserved"))
    val e3 = intercept[IllegalArgumentException] {
      Relational.asofJoin(l.withColumnRenamed("lid", "__m"), r,
        "k", "k", "t", "t", Seq("rid"))
    }
    assert(e3.getMessage.contains("reserved"))
    // a left column equal to an output name (asof_rid / r_rid) also fails
    val e4 = intercept[IllegalArgumentException] {
      Relational.asofJoin(l.withColumnRenamed("lid", "asof_rid"), r,
        "k", "k", "t", "t", Seq("rid"))
    }
    assert(e4.getMessage.contains("output column"))
  }
}
