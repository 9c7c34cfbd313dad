package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1). `Bench.scala` is the
  * frozen driver contract; this separate main exists so per-query
  * iteration and job-level attribution never touch it (plan dumps are
  * `graft.Plans`).
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra time [reps] [query ...]"
  *     — timed noop-sink runs (same session shape as Bench's query phase:
  *       the shared `Sessions.local` recipe plus zstd and off-heap
  *       vectors), warm-up pass at sf0.001 first, prints per-query
  *       min/median.
  *   sbt "runMain graft.BenchExtra jobs <query>"
  *     — one timed run with a job listener printing per-job wall time and
  *       description (attribution for multi-job operators).
  */
object BenchExtra {

  private def session(): SparkSession = {
    val s = graft.util.Sessions.local(graft.util.Sessions.cpus, "graft-bench-extra")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.columnVector.offheap.enabled", "true")
      .config("spark.local.dir", {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-spark-local"
        else "/tmp/graft-spark-local"
      })
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("time")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    def run(dir: String, name: String): Unit =
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[benchextra] $name FAILED: ${e.getMessage}") }

    mode match {
      case "jobs" =>
        val names = args.drop(1).toSeq
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              jobs.put(j.jobId, (j.time,
                Option(j.properties.getProperty("spark.job.description"))
                  .getOrElse("")))
            override def onJobEnd(
                j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
              val (t0, d) = jobs.getOrDefault(j.jobId, (j.time, "?"))
              System.err.println(f"[job] ${j.jobId}%4d ${j.time - t0}%6d ms  $d")
            }
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val i = sc.stageInfo
              val dur = for { a <- i.completionTime; b <- i.submissionTime } yield a - b
              val m = i.taskMetrics
              System.err.println(f"[stage] ${i.stageId}%4d ${dur.getOrElse(-1L)}%6d ms " +
                f"run=${m.executorRunTime}%6d cpu=${m.executorCpuTime / 1000000}%6d " +
                f"tasks=${i.numTasks}%3d ${i.name.take(60)}")
            }
          })
        all.foreach { case (n, _) => run("/root/testdata/sf0.001", n) }
        names.foreach { name =>
          System.err.println(s"[benchextra] --- timed run: $name ---")
          val t0 = System.nanoTime()
          run(sfDir, name)
          println(f"[benchextra] $name total ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }

      case _ => // time
        val reps = args.lift(1).map(_.toInt).getOrElse(3)
        val names = if (args.length > 2) args.drop(2).toSeq else all.map(_._1)
        all.foreach { case (n, _) => run("/root/testdata/sf0.001", n) }
        val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
        (0 until reps).foreach { _ =>
          names.foreach { n =>
            val t0 = System.nanoTime()
            run(sfDir, n)
            val s = (System.nanoTime() - t0) / 1e9
            samples(n) = samples.getOrElse(n, Vector.empty) :+ s
          }
        }
        val lines = names.map { n =>
          val xs = samples(n).sorted
          f""""$n":{"min":${xs.head}%.3f,"med":${xs(xs.length / 2)}%.3f}"""
        }
        val totalMin = names.map(n => samples(n).min).sum
        println(s"""{"total_min":$totalMin,${lines.mkString(",")}}""")
    }
    spark.stop()
  }
}
