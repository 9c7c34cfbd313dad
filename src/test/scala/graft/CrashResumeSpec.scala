package graft

import graft.log.ChangeLogGenerator

/** Hard-crash resume, end to end through the CLI: a forked
  * `graft.Main start` replay is SIGKILLed mid-run (no shutdown hook, no
  * graceful stop), then restarted from the same checkpoint — the replay
  * must finish and converge to the independent oracle reducer with no
  * lost or duplicated effects (the exactly-once ledger absorbs the
  * crash-replayed batch). This is the north rule's "resumable
  * mid-replay" under the harshest failure mode; CheckpointResumeSpec
  * covers the staged-reveal variant in-process.
  */
class CrashResumeSpec extends SparkSpec {

  private def fork(yamlPath: String, extra: Seq[String] = Nil): Process = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .forEach(a => if (!a.startsWith("-Xmx") && !a.startsWith("-Xms")) cmd.add(a))
    cmd.add("-Xmx4g")
    // the suite machine is heavily loaded while this child replays; a
    // GC/CPU-starvation pause must not trip local-mode RPC timeouts
    cmd.add("-Dspark.network.timeout=300s")
    cmd.add("-Dspark.rpc.askTimeout=300s")
    cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
    cmd.add("graft.Main"); cmd.add("start"); cmd.add("-f"); cmd.add(yamlPath)
    extra.foreach(cmd.add)
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.redirectErrorStream(true)
    pb.start()
  }

  test("kill -9 mid-replay, restart from checkpoint, converge to the oracle") {
    val root = tmpDir("crash")
    val logDir = s"$root/log"
    // many small segments (one micro-batch each): even a warm child JVM
    // spends ~0.5 s/batch on planning+commit, so the kill window between
    // version 2 and completion stays wide under any scheduling
    val cfg = ChangeLogGenerator.Config(nEvents = 16000L, nRepos = 50,
      pathsPerRepo = 20, numSegments = 16)
    ChangeLogGenerator.writeSegments(spark, logDir, cfg)

    val yaml =
      s"""stream:
         |  name: crash-resume
         |  checkpointDir: $root/ckpt
         |  port: 0
         |  instance:
         |    source:
         |      type: changelog
         |      specs: { path: $logDir, maxFilesPerTrigger: 1 }
         |    target:
         |      type: lake
         |      specs: { path: $root/lake, keyColumns: [repo, path], numBuckets: 4 }
         |""".stripMargin
    val yamlPath = s"$root/pipeline.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(yamlPath), yaml)

    // phase 1: start, wait for a couple of committed versions, SIGKILL
    val p1 = fork(yamlPath)
    val drain1 = new Thread(() => { // keep the child's stdout pipe from filling
      val in = p1.getInputStream
      val buf = new Array[Byte](8192)
      while (in.read(buf) >= 0) {}
    })
    drain1.setDaemon(true); drain1.start()
    val ptr = java.nio.file.Paths.get(s"$root/lake/_current")
    val deadline = System.nanoTime() + 180L * 1000000000L
    def version: Long =
      if (!java.nio.file.Files.exists(ptr)) -1L
      else try java.nio.file.Files.readString(ptr).trim.toLong
      catch { case _: Exception => -1L }
    while (version < 2L && System.nanoTime() < deadline) {
      assert(p1.isAlive, "child died before making progress")
      Thread.sleep(20L)
    }
    assert(version >= 2L, "no mid-replay progress within the deadline")
    p1.destroyForcibly() // SIGKILL — no graceful drain
    p1.waitFor()
    val vAtCrash = version
    assert(vAtCrash < 14L, s"crash came too late to be a mid-replay test: v$vAtCrash")

    // phase 2: restart from the same checkpoint; must converge exactly
    val p2 = fork(yamlPath, Seq("--verify-oracle"))
    val out = new String(p2.getInputStream.readAllBytes(), "UTF-8")
    assert(p2.waitFor() === 0, s"restart failed:\n${out.takeRight(4000)}")
    assert(out.contains("[graft] oracle check: CONVERGED"),
      s"no convergence after crash-resume:\n${out.takeRight(4000)}")
    // and it genuinely resumed (kept the pre-crash commits' history)
    assert(version > vAtCrash, s"no further commits after resume (v$vAtCrash)")
  }
}
