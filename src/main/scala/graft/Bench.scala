package graft

import graft.util.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query-suite timer. The CDC replay benchmark is `perfbench/run.py`.
  *
  * Usage: `sbt "runMain graft.Bench [reps] [query ...]"` — one warm-up
  * pass of every `SparkEntry.queries` entry on the `sf0.001` directory
  * next to `SPARK_GRAFT_SF_DIR`, then `reps` (default 1) timed passes of
  * the named queries (default all) on `SPARK_GRAFT_SF_DIR`. Prints ONE
  * JSON line with the keys metric/value/unit/queries/sf (`queries` holds
  * each query's minimum, `value` their sum) plus each query's median
  * under `queries_median`, and writes the same line to
  * `SPARK_GRAFT_BENCH_OUT` (default BENCH_LATEST.json).
  */
object Bench {

  type Query = (SparkSession, String) => DataFrame

  /** The shared session recipe (`Sessions.local`) plus the bench's
    * measurement settings.
    */
  private def session(): SparkSession = {
    val s = Sessions.local(Sessions.cpus, "graft-bench-queries")
      // shuffle and spill scratch on tmpfs: the bench host's virtio disk
      // throttles from 258 MB/s to ~12 MB/s once its burst credits run
      // out (BENCH.md "Environment facts"), which times the disk
      .config("spark.local.dir", s"${SparkEntry.scratchRoot}/graft-spark-local")
      // each sf table is one parquet file, so scan parallelism must come
      // from row-group splits; the default 128 MB partition size caps a
      // table's scan at a few tasks
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      // parquet column batches are the biggest short-lived bulk
      // allocation; off-heap vectors take them out of GC (measured on the
      // CDC replay's scan stage, where it cut scan CPU by about a quarter)
      .config("spark.sql.columnVector.offheap.enabled", "true")
      // zstd halves shuffle/spill bytes vs lz4
      .config("spark.io.compression.codec", "zstd")
      // the bypass writer writes partition files then CONCATENATES them
      // into the final map output - every shuffle byte hits storage
      // twice; forcing the serialized (Unsafe) writer buffers in
      // execution memory and writes once
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // shuffle files are deleted only when their ShuffleDependency is
      // GC'd (default periodic GC 30 min); a 60 s cadence frees them
      // while the suite still runs
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs each query of `queries` on `dir` `reps` times, in name order,
    * and returns its wall seconds per pass. Each run forces full column
    * materialization through a noop-format write (`count()` lets column
    * pruning delete the measured work, e.g. csv_md5_key never computed
    * its md5 under count()). A query that throws stops the run with an
    * error that names it.
    */
  def timeQueries(spark: SparkSession, dir: String, queries: Map[String, Query],
      reps: Int): Map[String, Seq[Double]] = {
    val names = queries.keys.toSeq.sorted
    val passes = Seq.fill(reps) {
      names.map { name =>
        val t0 = System.nanoTime()
        try queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        catch { case e: Exception =>
          throw new RuntimeException(s"query $name failed on $dir: ${e.getMessage}", e) }
        (System.nanoTime() - t0) / 1e9
      }
    }
    names.zip(passes.transpose).toMap
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(1)
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val names = args.drop(1).toSet
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val timed =
      if (names.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => names.contains(n) }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    val samples =
      try {
        // warm-up pass (codegen, session, broadcast machinery — round 1's
        // alphabetically-first query absorbed all of it)
        timeQueries(spark, java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001").toString,
          SparkEntry.queries, 1)
        timeQueries(spark, sfDir, timed, reps)
      } finally spark.stop()

    def perQuery(stat: Seq[Double] => Double): String =
      samples.toSeq.sortBy(_._1).map { case (n, xs) => "\"" + n + f"\":${stat(xs)}%.3f" }
        .mkString("{", ",", "}")
    val total = samples.values.map(_.min).sum
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${perQuery(_.min)},""" +
      s""""sf":"$sfDir","queries_median":${perQuery(xs => xs.sorted.apply(xs.length / 2))}}"""
    // stdout for the driver AND a file copy — round 1's driver failed to
    // extract the line from sbt-prefixed output ("parsed": null)
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "BENCH_LATEST.json")), json + "\n")
  }
}
