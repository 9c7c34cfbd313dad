package graft.util

import org.apache.spark.sql.SparkSession

/** The one Spark session recipe every main starts from: the CLI
  * (`Main`), `Verify`, `Plans` and the query-suite timer (`Bench`, which
  * adds its measurement settings on top of the builder it returns).
  */
object Sessions {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else min(nproc, 32). */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors(), 32))

  /** `local[cpus]` with AQE, UTC session time, no UI, and:
    *
    *  - shuffle (and state) partitions = cpus. Measured against a fixed
    *    32 at both levels of the then-stateful CDC replay, the 16-thread
    *    level paid ~2 s/batch more (a second wave of RocksDB instance
    *    open/commit per stateful stage: 48.5 s vs 38.6 s wall);
    *    partitions ≪ cpus idles a stateful stage. A stateful query's
    *    checkpoint pins its state partitions on resume; the CDC
    *    pipelines keep no state, so their resume at another cpu count
    *    moves nothing.
    *  - raw local FS for file:// paths. Hadoop's default LocalFileSystem
    *    is a ChecksumFileSystem: every file create (state changelog,
    *    offset WAL, delta parquet) also writes a .crc sidecar, doubling
    *    the small-file traffic of each micro-batch commit, for integrity
    *    the lake's atomic snapshot commit (and, on a cluster, the DFS
    *    block layer) already provides.
    *  - the RocksDB keyed state store (BENCH.md "State store") for the
    *    one stateful operator, `EventRollup` (no CDC pipeline keeps keyed
    *    state). The in-memory HDFS provider holds all of it on heap;
    *    RocksDB bounds memory at any key count. Changelog checkpointing
    *    commits each batch's state changelog and leaves full snapshots to
    *    background maintenance. The raw FS needs it: RocksDB's snapshot
    *    upload goes through Hadoop's `FileSystem.getLocal`, which casts
    *    the file:// implementation to `LocalFileSystem`, so with it off
    *    every commit fails. Both settings stay even for one operator:
    *    Spark restores the provider class from a checkpoint's offset log
    *    but not the changelog flag, so a rollup checkpoint written under
    *    RocksDB would fail its first commit on resume without the flag.
    */
  def local(cpus: Int, name: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(name)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
}
