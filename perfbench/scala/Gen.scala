package perfbench

import graft.log.ChangeLogGenerator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The load generator: everything a run consumes, derived from `seed`.
  * It runs in a JVM of its own, before the measured ones.
  *
  *  - `log/`     the measured change log (`ChangeLogGenerator.writeSegments`);
  *  - `oracle/`  `oracleFinalState` as (repo, path, lsn, sha256(content));
  *  - `lookups.tsv` a seeded, shuffled mix of hot, cold, deleted and
  *               absent keys with the expected content hash ("-" = no row).
  */
object Gen {

  def run(spark: SparkSession, a: Args): Map[String, Any] = {
    val work = a.str("work")
    val seed = a.long("seed")
    val cfg = ChangeLogGenerator.Config(
      nEvents = a.long("events"),
      nRepos = a.int("repos"),
      pathsPerRepo = a.int("paths"),
      zipfExponent = a.double("zipf"),
      numSegments = a.int("segments"),
      seed = seed)
    val t0 = System.nanoTime()
    ChangeLogGenerator.writeSegments(spark, s"$work/log", cfg)
    val tLog = System.nanoTime()

    val oracle = ChangeLogGenerator.oracleFinalState(spark, cfg).toDF()
      .select(col("repo"), col("path"), col("lsn"), sha2(col("content"), 256).as("sha"))
    oracle.write.parquet(s"$work/oracle")
    val tOracle = System.nanoTime()
    val live = spark.read.parquet(s"$work/oracle").select("repo", "path", "sha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

    // lookup mix: 40% hot (the Zipf head repos), 30% cold, 15% deleted
    // (in the log, absent from the final state), 15% absent (never in the
    // log); the same seed always yields the same keys and order
    val n = a.int("lookups")
    val nHot = n * 4 / 10
    val nCold = n * 3 / 10
    val nDel = n * 15 / 100
    val hotRepos = (0 until math.max(1, cfg.nRepos / 50)).map(i => s"org/repo-$i").toSet
    val byRank = live.keys.toSeq.sortBy { case (r, p) =>
      scala.util.hashing.MurmurHash3.stringHash(s"$seed/$r/$p") }
    // logged keys come from the generator's pure event function; index
    // 501 (mod 997) is replaced by the forced delete of index 500's key
    val deleted = Iterator.range(0L, cfg.nEvents)
      .map(i => (i * 7919L + seed) % cfg.nEvents)
      .filter(_ % 997 != 501)
      .map { i => val e = ChangeLogGenerator.eventAt(cfg, i); (e.repo, e.path) }
      .filter(k => !live.contains(k)).distinct.take(nDel).toSeq
    val keys =
      byRank.filter(k => hotRepos(k._1)).take(nHot).map(k => ("hot", k._1, k._2, live(k))) ++
        byRank.filterNot(k => hotRepos(k._1)).take(nCold).map(k => ("cold", k._1, k._2, live(k))) ++
        deleted.map(k => ("deleted", k._1, k._2, "-")) ++
        (0 until n - nHot - nCold - deleted.size)
          .map(i => ("absent", s"org/absent-$i", s"src/none$i.scala", "-"))
    val rng = new scala.util.Random(seed)
    Files.write(Paths.get(s"$work/lookups.tsv"),
      rng.shuffle(keys.toSeq).map(_.productIterator.mkString("\t")).asJava)

    val events = spark.read.parquet(s"$work/log").count()
    val genS = (System.nanoTime() - t0) / 1e9
    Map(
      "events" -> events,
      "oracle_rows" -> live.size,
      "log_bytes" -> Host.treeSize(Paths.get(s"$work/log"))._1,
      "lookup_mix" -> keys.groupBy(_._1).map { case (k, v) => k -> v.size },
      "gen_s" -> genS,
      "phases_s" -> Map("log" -> (tLog - t0) / 1e9,
        "oracle" -> (tOracle - tLog) / 1e9, "keys" -> (System.nanoTime() - tOracle) / 1e9))
  }
}
