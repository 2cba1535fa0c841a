"""The repository benchmark: drives one user lifecycle of the program on
seeded, generated inputs and prints its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root.  Workloads:

  sentiment_score  SentimentCli word-score scoring of tweet CSVs
  index_serve      IndexCli fit -> append -> search -> search-batch; its
                   traced runs also feed Curate.streamingTail micro-batch
                   after micro-batch (the curate.* metrics)

Load is closed-loop from one client in one JVM on local[<cores>]: each
call waits for the one before.  The program is compiled from source into
``$CARGO_TARGET_DIR`` (default ``.bench_build``) on first use; inputs are
written there before any timing starts.  With ``--trace 0`` the last
line carries the end-to-end metrics, with ``--trace 1`` the per-layer
ones from a separate traced lifecycle (spans go to ``spans.jsonl`` in
the run's work directory).  ``--corrupt 1`` damages one output before
the checks run, to prove the checks catch it.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("sentiment_score", "index_serve")
JVM_HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (as the program's build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def calibrate():
    """Milliseconds for a fixed single-thread integer loop: a host probe
    recorded with every run, so a run taken on a slowed host shows."""
    n = int(gen.PARAMS["probes"]["calibration_iterations"])
    t0 = time.perf_counter()
    x = 1
    for i in range(n):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1000.0


def class_archive(classpath, build_dir):
    """The JVM class-data archive for ``classpath``, dumped on first use
    by one JVM that exercises every workload on seed-0 inputs.  It takes
    class loading from the program's and Spark's jars out of every
    later JVM start, for the parent and the change alike."""
    archive = os.path.join(build_dir, "classes-%s.jsa" % os.path.basename(classpath[0])[:-4])
    if not os.path.exists(archive):
        work = os.path.join(build_dir, "exercise")
        shutil.rmtree(work, ignore_errors=True)
        for w in WORKLOADS:
            gen.generate(w, 0, os.path.join(work, w))
        ex = argparse.Namespace(workload=WORKLOADS[0], seed=0, seconds=0, trace=0, corrupt=0)
        launch(classpath, work, ex, "exercise", 600,
               ["-XX:ArchiveClassesAtExit=" + archive + ".tmp"])
        os.rename(archive + ".tmp", archive)
        shutil.rmtree(work, ignore_errors=True)
    return archive


def launch(classpath, work, args, mode, timeout, jvm_opts=()):
    """One harness JVM; returns (seconds from launch to a ready session, result)."""
    cmd = (["java", "-Xmx" + JVM_HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData"] + list(jvm_opts)
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", ":".join(classpath), "perfbench.Harness",
              "--mode", mode, "--workload", args.workload, "--work", work,
              "--params", os.path.join(HERE, "workloads.json"), "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores()), "--corrupt", str(args.corrupt)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result-%s.json" % mode)
    if os.path.exists(result):
        os.remove(result)
    with open(os.path.join(work, "jvm-%s.log" % mode), "a") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit("stopped by signal %d" % signum)

        signal.signal(signal.SIGTERM, stop)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("harness JVM (%s) timed out after %ds" % (mode, timeout))
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm-%s.log" % mode)) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit("harness JVM (%s) failed with exit code %d" % (mode, code))
    with open(result) as f:
        r = json.load(f)
    return r["ready_ms"] / 1000.0 - t0, r


# End-to-end metrics: (name, unit, better, bound), printed by every
# untraced run whatever the workload; BENCHMARK.json lists the same.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("heap_live_mb", "MB", "lower", 0.1),
    ("ok_frac", "ratio", "higher", 0.01),
    ("rate_per_s", "items/s", "higher", 0.25),
    ("op_s_p50", "s", "lower", 0.25),
    ("quality", "ratio", "higher", 0.05),
]

# Per-layer metrics: (name, unit), printed by every traced run; a layer
# the workload does not use reads 0.
ENGINE = [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
          ("spark.slot_util", "ratio"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
          ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"),
          ("spark.output_mb", "MB"), ("driver.gap_s", "s")]
TEXT = [("sources.load_s", "s"), ("schema.detect_s", "s"), ("text.clean_s", "s"),
        ("wordscore.score_s", "s"), ("sources.save_s", "s"), ("text.clean_us_per_row", "us"),
        ("wordscore.value_us_per_token", "us"), ("wordscore.fuzzy_miss_us", "us"),
        ("wordscore.oov_token_frac", "ratio")]
CURATE = [("curate.plain_batch_s_p50", "s"), ("curate.compact_batch_s_p50", "s"),
          ("curate.jobs_per_batch", "count"), ("curate.input_mb_per_batch", "MB"),
          ("curate.state_mb", "MB"), ("curate.state_files", "count"),
          ("curate.admitted_frac", "ratio"), ("curate.planted_dropped_frac", "ratio")] + [
    ("curate.phase.%s_s" % ph, "s")
    for ph in ("near-pairs", "near-closure", "semantic", "land-output", "state-write", "unlabeled")
] + [("curate." + name, unit) for name, unit in ENGINE]  # the engine work of the tail's batches
INDEX = [("simsearch.cosine_ns_per_pair", "ns"), ("index.fit_s", "s"),
         ("index.append_rows_per_s", "1/s"), ("index.search_batch_qps", "1/s"),
         ("index.fit_jobs", "count"), ("index.search_tasks", "count"),
         ("index.search_slot_util", "ratio"), ("index.scan_frac", "ratio"),
         ("index.bytes_on_disk_mb", "MB"), ("index.files", "count")]
RUN = [("trace.untraced_s", "s"), ("trace.traced_s", "s"), ("trace.overhead_s", "s"),
       ("jvm.peak_rss_mb", "MB"), ("host.calib_ms", "ms"), ("failed_frac", "ratio")]
PER_LAYER = ENGINE + TEXT + CURATE + INDEX + RUN


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(setup_s, r):
    s = r["samples"]
    attempted = max(1, r["attempted"])
    values = {
        "setup_s": setup_s,
        "heap_live_mb": r["heap_live_mb"],
        "ok_frac": (attempted - r["failed"]) / attempted,
        "rate_per_s": median(s.get("rate_per_s", [])),
        "op_s_p50": median(s.get("op_s", [])),
        "quality": median(s.get("quality", [])),
    }
    return {name: (values[name], unit) for name, unit, _, _ in END_TO_END}


def per_layer(r, calib_ms):
    values = dict(r["layer"])
    values["host.calib_ms"] = calib_ms
    values["jvm.peak_rss_mb"] = r["peak_rss_mb"]
    values["failed_frac"] = r["failed"] / max(1, r["attempted"])
    return {name: (values.get(name, 0.0), unit) for name, unit in PER_LAYER}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        sys.exit("unknown workload %r (one of %s)" % (args.workload, ", ".join(WORKLOADS)))
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        sys.exit("run from the repository root: no program sources under %s" % root)

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build.build(root, build_dir)
    archive = ["-XX:SharedArchiveFile=" + class_archive(classpath, build_dir)]

    calib = [calibrate()]
    work = os.path.join(build_dir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    info = gen.generate(args.workload, args.seed, work)

    setup_s, r = launch(classpath, work, args, "run", 170, archive)
    calib.append(calibrate())

    metrics = per_layer(r, median(calib)) if args.trace else end_to_end(setup_s, r)
    detail = {"workload": args.workload, "seed": args.seed, "cores": cores(), "inputs": info,
              "setup_s": setup_s, "peak_rss_mb": r["peak_rss_mb"], "host_calib_ms": calib,
              "host_drift": max(calib) / min(calib) - 1.0,
              "samples": {k: len(v) for k, v in r["samples"].items()},
              "failures": r["failures"][:10]}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        # a metric with no sample (every operation failed) reads null
        "metrics": {k: {"value": v if v == v else None, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
