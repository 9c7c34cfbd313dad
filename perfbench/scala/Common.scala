package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** JVM entry point of the benchmark. `mode=gen` runs the load generator
  * ([[Gen.run]]), `mode=replay` one measured level ([[Replay.run]]); each
  * in a JVM of its own, so the measured JVM's memory and JIT state come
  * from set-up and replay alone. Arguments are `key=value` pairs;
  * `out=<file>` receives the JSON result.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv: Map[String, String] = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val a = Args(kv)
    val res = a.str("mode") match {
      case "gen" =>
        val spark = Host.session(a.int("threads"), a.str("work"))
        try Gen.run(spark, a) finally spark.stop()
      case "replay" => Replay.run(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    Files.writeString(Paths.get(kv("out")), Json.write(res))
  }
}

final case class Args(kv: Map[String, String]) {
  def str(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def double(k: String): Double = str(k).toDouble
}

object Host {

  /** The session every measured JVM uses: the engine's replay settings as
    * `graft.Bench` configures them, with all scratch space (shuffle,
    * spill, state) under the run's work directory.
    */
  def session(threads: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.columnVector.offheap.enabled", "true")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Resets this process's peak resident set (VmHWM) to its current RSS,
    * and the peak usage of each heap pool to its current usage.
    */
  def resetPeaks(): Unit = {
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: java.io.IOException => () }
  }

  /** Peak usage of each heap pool since [[resetPeaks]], MB. */
  def heapPeaksMb(): Map[String, Double] =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => p.getName -> p.getPeakUsage.getUsed / 1048576.0).toMap

  /** CPU time of this process in seconds, the JIT compiler threads'
    * excepted. Unlike wall time it excludes the time the host took the CPU
    * away (steal). Compilation is left out because it is the JVM's
    * warm-up, not the engine's work: every level compiles the code the
    * previous ones left hot, so the first timed level of a JVM pays more
    * of it than the next (`jitCpuSeconds` records it apart).
    */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9 -
      jitCpuSeconds()

  /** CPU seconds of the JIT compiler threads, from `/proc/self/task` (the
    * JVM keeps a fixed set of them: -XX:-UseDynamicNumberOfCompilerThreads).
    */
  def jitCpuSeconds(): Double = {
    val st = Files.list(Paths.get("/proc/self/task"))
    try st.iterator().asScala.map { t =>
      try {
        val stat = Files.readString(t.resolve("stat"))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0L
        else {
          // fields after "(comm) ": state is 3rd, utime 14th, stime 15th
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L } // the thread has ended
    }.sum / 100.0 // USER_HZ clock ticks
    finally st.close()
  }

  /** Milliseconds this JVM spent in GC pauses. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Total bytes and count of regular files under `dir`. */
  def treeSize(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally st.close()
    }
}

/** Host-weather probes taken beside every sample (recorded only; no sample
  * is ever dropped because of them).
  */
object Probes {

  /** Fresh-page storage probe: writes up to 128 MB of new file pages in the
    * work directory with a 2 s budget and fsyncs them; MB/s.
    */
  def storageMbps(dir: String): Double = {
    val f = Paths.get(dir, s"probe-${System.nanoTime()}").toFile
    val buf = new Array[Byte](8 * 1024 * 1024)
    java.util.Arrays.fill(buf, 7.toByte)
    val out = new java.io.FileOutputStream(f)
    val t0 = System.nanoTime()
    var written = 0L
    try {
      var i = 0
      while (i < 16 && System.nanoTime() - t0 < 2000000000L) {
        out.write(buf); written += buf.length; i += 1
      }
      out.getFD.sync()
    } finally { out.close(); f.delete(); () }
    written / 1e6 / math.max((System.nanoTime() - t0) / 1e9, 1e-6)
  }

  /** Single-thread CPU probe: fixed integer work, ms. CPU steal inflates it. */
  def cpuMs(): Double = {
    var acc = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0L
    while (i < 200000000L) {
      acc = (acc ^ i) * 0xC2B2AE3D27D4EB4FL
      acc ^= (acc >>> 31)
      i += 1
    }
    if (acc == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  def both(dir: String): Map[String, Double] =
    Map("storage_mbps" -> storageMbps(dir), "cpu_probe_ms" -> cpuMs())
}

/** JSON for result and span files, with the json4s the engine's snapshots use. */
object Json {
  def write(v: Map[String, Any]): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)
}
