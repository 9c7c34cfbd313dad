#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the graft CDC engine.

    python3 perfbench/run.py --workload replay_hot --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark's Scala code into `.bench_build/` (build.py) and records the JVM
class-data archive (`ensure_archive`); later runs reuse both.

One run drives the engine only through its public entry points
(`ChangeLogGenerator`, `CdcJob`, `LakeTable`), in JVMs with at most `nproc`
worker threads:

1. the load generator's JVM writes the seeded change log, the oracle final
   state and the lookup keys (reported apart, as `gen_s`); the log's first
   `batches` segments, linked apart, are the warm-up log;
2. one measured JVM per level. Its set-up (`setup_s`: JVM start, session,
   warm-up replay of the warm log in the measured number of batches) is
   followed by the level: a replay of the log into a fresh table (load
   model: backlog drain, AvailableNow, byte-bounded micro-batches), then,
   for levels with reads, the read phase on the final table: full scans and
   closed-loop point lookups from one client, keys a seeded mix of hot,
   cold, deleted and absent keys.
   - `--trace 0`: one level at `nproc` threads -> the end-to-end metrics;
   - `--trace 1`: `nproc` threads traced (with reads), `nproc` threads
     untraced and 1 thread -> the per-layer metrics, the tracing overhead
     and the N=1 vs N=nproc scaling efficiency. Every level is the first
     after the same warm-up in a JVM of its own, so none runs warmer than
     the one it is compared with.

Every result is checked: each replayed table against
`ChangeLogGenerator.oracleFinalState` (row count and per-row
sha256(content)), each lookup against its oracle row or its absence. An
exception counts as a failure, never as a fast sample.

`--seconds` sizes the log (events = events_per_core_s * nproc * seconds).
Host facts (nproc, MemTotal, `/dev/shm` size), the chosen sizes, the heap
(MemTotal/2, clamped to 2-8 GiB), the seed, per-level probes and every raw
sample are written to `.bench_build/results/<workload>-s<seed>-t<trace>.json`;
traced runs also leave their spans there (`*-spans.jsonl`). Scratch space
lives under `.bench_build/work/` and is removed when the run ends.

The end-to-end metrics charge replay and lookups in process CPU time
(`cpu_us_per_event`, `lookup_cpu_ms`), which excludes the time a shared
host steals from the VM; wall-clock replay and read timings vary with that
steal run to run, so they are kept in every artifact and reported by the
traced run as per-layer rows. The CPU of the JIT compiler threads is left
out of both and recorded apart (`replay_jit_cpu_s`): it is about as large
as the engine's own and falls from level to level as the JVM warms.

`peak_rss_mb` is the measured JVM's resident peak from the start of its
level. The inputs come from another JVM, and the heap is not pre-sized, so
the figure follows what set-up and replay touch. The young generation has a
fixed size (a quarter of the heap): G1's adaptive young sizing otherwise
moves the peak by up to 40% from run to run, while with it fixed the
figure moves with old-generation and native (RocksDB, off-heap) memory.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

# Workload shapes. `events_per_core_s` sizes the log from the host and the
# run length: events = events_per_core_s * nproc * seconds. replay_hot keeps
# at most repos*paths = 100k winners: at 4 threads x 5 s its 150k events
# leave ~62k (2.4 events per winner), so its batches are large and state,
# merge, refetch and commit outweigh scan + combine (~8% of trigger time).
# The run budget allows no log large enough for scan + combine to dominate.
# ingest_wide's keyspace (10M) makes nearly every event a winner. Its 3
# buckets give two files per bucket per batch at 4 threads, so minor
# compaction runs within its batches.
WORKLOADS = {
    "replay_hot": dict(
        repos=500, paths=200, zipf=2.0, events_per_core_s=7500,
        batches=3, segments=12, buckets=16, lookups=30, scans=2),
    "ingest_wide": dict(
        repos=20000, paths=500, zipf=1.0, events_per_core_s=800,
        batches=6, segments=12, buckets=3, lookups=30, scans=2),
}

END_TO_END_UNITS = {
    "setup_s": "s", "cpu_us_per_event": "us/event", "lookup_cpu_ms": "ms",
    "storage_amp": "ratio", "peak_rss_mb": "MB",
}

_children = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_facts():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        st = os.statvfs("/dev/shm")
        shm = st.f_blocks * st.f_frsize
    except OSError:
        shm = 0
    nproc = len(os.sched_getaffinity(0))
    # Spark heap: MemTotal/2, clamped to [2, 8] GiB (the rule the test
    # suite's SPARK_DRIVER_MEM follows)
    heap_g = min(8, max(2, mem_kb // 2097152))
    return dict(nproc=nproc, mem_total_kb=mem_kb, dev_shm_bytes=shm, heap_gb=heap_g)


def jvm(cp, host, threads, args, out, archive="use"):
    """Runs one benchmark JVM to completion; returns its parsed JSON result.

    `archive="use"` maps the class-data archive when it exists; "dump"
    writes it when the JVM exits. The heap is not pre-sized (-Xms); its
    young generation is fixed (-Xmn), see `peak_rss_mb` above. The JIT
    keeps a fixed set of compiler threads, whose CPU `cpuSeconds` leaves out.
    """
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    tmp = os.path.join(args["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{host['heap_gb']}g", f"-Xmn{host['heap_gb'] * 256}m",
           f"-XX:ParallelGCThreads={max(threads, 2)}",
           "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in opens]
    if archive == "dump":
        cmd += ["-XX:ArchiveClassesAtExit=" + build.ARCHIVE, "-Xlog:cds=off"]
    elif os.path.exists(build.ARCHIVE):
        cmd.append("-XX:SharedArchiveFile=" + build.ARCHIVE)
    cmd += ["-cp", cp, "perfbench.Main"]
    cmd += [f"{k}={v}" for k, v in args.items()] + [f"out={out}", f"threads={threads}"]
    p = subprocess.Popen(cmd, cwd=args["work"], stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    _children.append(p)
    try:
        code = p.wait(timeout=170)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        _children.remove(p)
    if code != 0:
        raise RuntimeError(f"benchmark JVM exited {code}")
    with open(out) as f:
        return json.load(f)


def generate(cp, host, work, seed, wl):
    """The load generator's JVM: writes the seeded log, the oracle and the
    lookup keys under `work`; returns its facts."""
    return jvm(cp, host, host["nproc"], dict(
        mode="gen", work=work, seed=seed, events=wl["events"], repos=wl["repos"],
        paths=wl["paths"], zipf=wl["zipf"], segments=wl["segments"],
        lookups=wl["lookups"]),
        os.path.join(work, "gen.json"))


def warm_log(work, wl):
    """Links the log's first `batches` segments into `work/warm`, the
    warm-up log."""
    segs = sorted(d for d in os.listdir(os.path.join(work, "log")) if d.startswith("seg="))
    for seg in segs[:wl["batches"]]:
        os.makedirs(os.path.join(work, "warm", seg))
        for f in os.listdir(os.path.join(work, "log", seg)):
            os.link(os.path.join(work, "log", seg, f), os.path.join(work, "warm", seg, f))


def batch_bounds(work, wl):
    """Byte bounds of a measured and of a warm-up batch. A batch admits
    whole segment files while their sum stays within the bound, so the
    bound is the largest of `batches` groups of consecutive segments (the
    last group also takes the short tail segment that delivery jitter
    pushes past the last full one), or the largest single segment for the
    warm-up: every batch then takes one group, and the batch count does not
    depend on how the seed sizes segments."""
    log = os.path.join(work, "log")
    sizes = [sum(os.path.getsize(os.path.join(log, d, f)) for f in os.listdir(os.path.join(log, d)))
             for d in sorted(os.listdir(log)) if d.startswith("seg=")]
    b = wl["batches"]
    k = len(sizes) // b
    groups = [sizes[i * k:(i + 1) * k] for i in range(b - 1)] + [sizes[(b - 1) * k:]]
    return max(sum(g) for g in groups), max(sizes[:b])


def replay(cp, host, work, gen, wl, threads, tag, traced, reads, trace_id, spans,
           archive="use"):
    """One measured JVM: set-up (session + warm-up), then the level `tag`
    on the generated log."""
    return jvm(cp, host, threads, dict(
        mode="replay", work=work, buckets=wl["buckets"], scans=wl["scans"], tag=tag,
        traced=traced, reads=reads,
        batch_bytes=gen["batch_bytes"], warm_batch_bytes=gen["warm_batch_bytes"],
        trace_id=trace_id, spans=spans),
        os.path.join(work, f"replay-{tag}.json"), archive)


def ensure_archive(cp, host):
    """Once per build: a small generator JVM plus a traced replay JVM, which
    writes the class-data archive (the classes it loaded) on exit. Every
    measured JVM maps it, which takes class loading out of each run's
    set-up; it is part of the build, like the compiled classes."""
    if os.path.exists(build.ARCHIVE):
        return
    work = os.path.join(OUT, "work", f"archive-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = dict(events=20000, repos=50, paths=20, zipf=1.5, segments=4,
              lookups=5, batches=2, buckets=4, scans=1)
    try:
        gen = generate(cp, host, work, 0, wl)
        warm_log(work, wl)
        gen["batch_bytes"], gen["warm_batch_bytes"] = batch_bounds(work, wl)
        replay(cp, host, work, gen, wl, host["nproc"], "n", 1, 1, "archive",
               os.path.join(work, "spans"), archive="dump")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def tail(xs, beyond=10):
    """(name, value) of the highest percentile with >= `beyond` samples above
    it; the maximum when the sample is too small for one."""
    n = len(xs)
    s = sorted(xs)
    for p in range(99, 49, -1):
        rank = math.ceil(p / 100 * n)
        if n - rank >= beyond:
            return f"p{p} of {n}", s[rank - 1]
    return f"max of {n}", s[-1]


def tails(level):
    """The tail rows of a level with reads: {name: (percentile, value)}."""
    return dict(batch_ms_tail=tail(level["batch_ms"]), lookup_ms_tail=tail(level["lookup_ms"]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources (build.sbt, src/main/scala) under {ROOT}")
        sys.exit(2)
    host = host_facts()
    nproc = host["nproc"]
    cp = build.build()
    ensure_archive(cp, host)
    wl = dict(WORKLOADS[a.workload])
    wl["events"] = wl["events_per_core_s"] * nproc * a.seconds
    work = os.path.join(OUT, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    spans = os.path.join(OUT, "results", f"{a.workload}-s{a.seed}-spans")
    # one JVM per level, each with its own set-up: trace 0 measures nproc
    # threads with reads; trace 1 adds nproc untraced and 1 thread
    if a.trace == 0:
        jvms = [("n", nproc, 0, 1)]
    else:
        jvms = [("traced", nproc, 1, 1), ("untraced", nproc, 0, 0), ("one", 1, 0, 0)]
    sizes = dict(wl, levels=[f"{t}: {n} threads, traced={tr}, reads={rd}"
                             for t, n, tr, rd in jvms])
    artifact = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                    host=host, sizes=sizes)
    try:
        gen = generate(cp, host, work, a.seed, wl)
        warm_log(work, wl)
        gen["batch_bytes"], gen["warm_batch_bytes"] = batch_bounds(work, wl)
        runs = [replay(cp, host, work, gen, wl, n, t, tr, rd, f"{a.workload}-s{a.seed}",
                       spans) for t, n, tr, rd in jvms]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sizes["batch_bytes"] = gen["batch_bytes"]
    lv = {t: r["level"] for (t, _, _, _), r in zip(jvms, runs)}
    artifact.update(gen=gen, setup_s=[r["setup_s"] for r in runs],
                    session_s=[r["session_s"] for r in runs],
                    warm_batches=[r["warm_batches"] for r in runs], levels=lv)

    attempted = failed = 0
    for tag, r in lv.items():
        attempted += 1
        if r["oracle_mismatches"] != 0 or r["visible_rows"] != gen["oracle_rows"]:
            failed += 1
            log(f"{tag}: final state differs from the oracle ({r['oracle_mismatches']} "
                f"keys, {r['visible_rows']} rows vs {gen['oracle_rows']})")
        if r["events"] != gen["events"]:
            failed += 1
            log(f"{tag}: consumed {r['events']} events of {gen['events']}")
        if "lookups" in r:
            attempted += r["lookups"] + len(r["scan_s"])
            failed += r["lookup_failed"]

    if a.trace == 0:
        hi = lv["n"]
        metrics = dict(
            setup_s=runs[0]["setup_s"],
            cpu_us_per_event=hi["replay_cpu_s"] * 1e6 / hi["events"],
            lookup_cpu_ms=hi["lookup_cpu_s"] * 1e3 / hi["lookups"],
            storage_amp=hi["table_bytes"] / hi["live_bytes"],
            peak_rss_mb=hi["peak_rss_mb"],
        )
        # wall-clock rows: recorded here, reported (ungated) by traced runs
        artifact["wall"] = dict(
            replay_eps=hi["events"] / hi["replay_s"],
            batch_ms_p50=statistics.median(hi["batch_ms"]),
            scan_s=statistics.median(hi["scan_s"]),
            lookup_ms_p50=statistics.median(hi["lookup_ms"]),
            tails=tails(hi))
        out = {k: dict(value=v, unit=END_TO_END_UNITS[k]) for k, v in metrics.items()}
    else:
        tr, un, one = lv["traced"], lv["untraced"], lv["one"]
        layers = dict(tr["layers"]["metrics"])
        # compaction time is 0 on every replay_hot run (three batches never
        # exceed the per-bucket file budget); the per-batch breakdown in the
        # artifact keeps it, lake.compactions/compact_bytes report the work
        del layers["lake.compact_ms"]
        eps_n = un["events"] / un["replay_s"]
        eps_1 = one["events"] / one["replay_s"]
        layers.update({
            "replay.eps": eps_n,
            "replay.eps_1thread": eps_1,
            "replay.scaling_eff": eps_n / eps_1 / nproc,
            "job.batch_ms_p50": statistics.median(un["batch_ms"]),
            "job.batch_ms_tail": tail(un["batch_ms"])[1],
            "lake.scan_s": statistics.median(tr["scan_s"]),
            "lake.lookup_ms_p50": statistics.median(tr["lookup_ms"]),
            "lake.lookup_ms_tail": tail(tr["lookup_ms"])[1],
            "trace.overhead_replay": tr["replay_s"] / un["replay_s"],
        })
        # batch rows from the untraced level, read rows from the traced
        # one (the only level with a read phase)
        artifact["tails"] = dict(batch_ms_tail=tail(un["batch_ms"]),
                                 lookup_ms_tail=tail(tr["lookup_ms"]))
        out = {k: dict(value=v, unit=layer_unit(k)) for k, v in layers.items()}
    artifact.update(metrics=out, attempted=attempted, failed=failed,
                    failed_ratio=failed / attempted)
    with open(os.path.join(OUT, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for k, v in out.items():
        print(f"{k:32s} {v['value']:.6g} {v['unit']}")
    print(f"{'failed_ratio':32s} {failed / attempted:.6g} ratio ({failed}/{attempted})")
    print(json.dumps(dict(correct=failed == 0, attempted=attempted, failed=failed,
                          metrics=out)))


def layer_unit(name):
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_skew", "_err_max", "_eff")) or "overhead" in name:
        return "ratio"
    if name.startswith("replay.eps"):
        return "events/s"
    return "count"


def _terminate(signum, frame):
    for p in list(_children):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except OSError:
            pass
    sys.exit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    main()
