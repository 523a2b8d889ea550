"""Benchmark of KG construction, end to end and per layer.

Run from the repository root::

    python3 perfbench/run.py --workload kg_flat --seed 42 --seconds 20 --trace 0

One process is one run of one workload: it pins the environment, builds
the Spark session once, generates and persists the input (set-up), warms
up until two repeats agree, then repeats the workload in a closed loop
(one client, each repeat starts when the previous one ends) for
``--seconds``. Every timed repeat's outputs are checked. Human-readable
report lines come first; the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; ``--trace 1`` enables
Spark's event log and reports the per-layer ones instead, plus the
tracing overhead against an untraced run of the same code and seed. The process
exits 1 when a check fails and 2 when the program cannot be imported.
See ``perfbench/README.md`` for every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import procstat  # noqa: E402  (needs the path set above)

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "turns_per_s": "turns/s",
    "cpu_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "fused.exchange_bytes": "bytes", "fused.exchange_write_ms": "ms",
    "fused.sort_ms": "ms", "fused.sort_peak_mb": "MB",
    "fused.py_boot_ms": "ms", "fused.py_init_ms": "ms", "fused.py_total_ms": "ms",
    "fused.arrow_sent_bytes": "bytes", "fused.arrow_recv_bytes": "bytes",
    "fused.rows_out": "rows", "fused.task_max_ms": "ms",
    "fused.task_median_ms": "ms", "fused.gc_ms": "ms",
    "kernel.docs": "docs", "kernel.turns": "turns", "kernel.chunks": "chunks",
    "kernel.triples": "triples",
    "kernel.chunk_ms": "ms", "kernel.select_ms": "ms", "kernel.extract_ms": "ms",
    "kernel.connect_ms": "ms", "kernel.aggregate_ms": "ms", "kernel.group_ms": "ms",
    "kernel.pairs_scored": "pairs", "kernel.ratio_hit": "ratio",
    "kernel.merges_per_pair": "ratio", "kernel.share": "ratio",
    "io.write_ms": "ms", "io.bytes_written": "bytes", "io.files_written": "files",
    "io.bytes_per_triple": "bytes/triple", "io.resume_ms": "ms",
    "io.resume_rows_added": "rows",
    "crossdoc.ms": "ms", "crossdoc.jobs": "jobs", "crossdoc.candidate_pairs": "pairs",
    "crossdoc.edges": "edges", "crossdoc.edges_per_pair": "ratio",
    "crossdoc.mapping_rows": "rows", "dedup.ms": "ms", "dedup.jobs": "jobs",
    "dedup.candidates": "pairs", "dedup.verified": "pairs",
    "dedup.verified_per_candidate": "ratio",
    "spark.jobs": "jobs", "spark.tasks": "tasks",
    "storage.retained_rdds": "rdds", "storage.retained_mb": "MB",
    "trace.wall_s": "s", "trace.overhead_s": "s",
}
# warm-up repeats, as shares of the input: the first repeat is cold (JIT,
# class loading, first plans), and its extra cost does not need the whole
# input; after the second, timed repeats show no trend
WARMUP_SHARES, WARMUP_TOLERANCE = (0.25, 1.0), 0.1


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (so the
    interpreter's own start-up is inside set-up time)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work_dir: str) -> dict:
    """Settings every run uses, sized to the machine; all are reported."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 2**20
    # local mode runs every task in the driver JVM; a heap sized for a
    # large machine gets the JVM killed on a small one
    heap_gb = max(1, min(2, int(mem_gb * 0.15)))
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYTHONHASHSEED": "0",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    conf = {
        "spark.local.dir": local,
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.ui.showConsoleProgress": "false",
        # a fresh Python worker per task, as in a single batch pass: a
        # reused worker would keep its caches (fuzz.cached_ratio and the
        # other LRUs) from earlier repeats of the same documents, and
        # which worker a task lands on is random, so a repeat's time
        # would depend on that draw and drop from one repeat to the next
        "spark.python.worker.reuse": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        # a fixed-size heap, touched at start: G1 otherwise resizes it,
        # and touches its regions, with GC timing, and the JVM's resident
        # size varies with it from run to run
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_gb}g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    return {"env": env, "conf": conf, "cpus": cpus, "mem_total_gb": round(mem_gb, 1)}


@dataclass
class Repeat:
    """One timed repeat: wall and machine CPU time of the workload's
    ``run``, then what its untimed ``collect`` read back."""

    group: str  # the Spark job group the repeat ran under
    wall_s: float
    cpu_s: float
    outputs: dict


def repeat(wl, spark, group: str, share: float = 1.0) -> Repeat:
    sc = spark.sparkContext
    sc.setJobGroup(group, "timed")
    c0 = procstat.machine_cpu_s()
    t0 = time.perf_counter()
    state = wl.run(spark, share)
    wall = time.perf_counter() - t0
    cpu = procstat.machine_cpu_s() - c0
    # the read-backs that check a repeat run in a job group of their own,
    # so the repeat's per-layer figures exclude them
    sc.setJobGroup(f"{group}-check", "check")
    return Repeat(group, wall, cpu, wl.collect(spark, state))


def quartiles(values: list[float]) -> dict:
    if len(values) == 1:
        return {"median": values[0], "q1": values[0], "q3": values[0], "n": 1}
    q1, median, q3 = statistics.quantiles(values, n=4)
    return {"median": median, "q1": q1, "q3": q3, "n": len(values)}


def storage(spark) -> tuple[int, float]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    while len(procstat.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procstat.tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def code_digest() -> str:
    """Digest of the program's and the benchmark's sources."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "ontocast_spark"), HERE):
        for dirpath, dirs, files in os.walk(base):
            dirs.sort()
            for name in sorted(f for f in files if f.endswith(".py")):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
    return h.hexdigest()[:16]


UNTRACED = os.path.join(ROOT, ".perfbench_work", "untraced.json")


def untraced_key(args) -> str:
    return f"{args.workload}/{args.seed}/{args.seconds:g}/{code_digest()}"


def untraced_wall_s(args) -> float:
    """``wall_s`` of an untraced run of the same code, workload, seed and
    ``--seconds`` in this checkout. Without one, an untraced run is made
    first, to completion, before this process starts Spark; it measures
    for at most 5 s, so that both runs end within 180 s."""
    if os.path.exists(UNTRACED):
        with open(UNTRACED) as fh:
            wall = json.load(fh).get(untraced_key(args))
        if wall is not None:
            return wall
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(min(args.seconds, 5)),
           "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=170, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def record_untraced(args, wall_s: float) -> None:
    records = {}
    if os.path.exists(UNTRACED):
        with open(UNTRACED) as fh:
            records = json.load(fh)
    records[untraced_key(args)] = wall_s
    with open(UNTRACED, "w") as fh:
        json.dump(records, fh, indent=1)


def run_all(args) -> int:
    """Every workload listed in ``BENCHMARK.json``, one process each;
    prints each one's metrics and exits 1 if any check failed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    correct = True
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode not in (0, 1) or not lines:
            print(f"{name}: exit {out.returncode}\n{out.stderr[-2000:]}")
            correct = False
            continue
        result = json.loads(lines[-1])
        correct &= result["correct"]
        print(f"{name}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}")
        for metric, v in result["metrics"].items():
            print(f"  {metric} = {v['value']:.6g} {v['unit']}")
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name, or 'all' for those in BENCHMARK.json")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a run stopped from outside still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import ontocast_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    trace = bool(args.trace)
    baseline_wall = untraced_wall_s(args) if trace else None
    # set-up time is this process's own, not the untraced run's above
    started = process_age_s()

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    settings = pin_environment(work_dir)
    conf = dict(settings["conf"])
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    try:
        return run(args, WORKLOADS[args.workload], trace, work_dir, settings, conf,
                   baseline_wall, started)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def run(args, workload, trace, work_dir, settings, conf, baseline_wall, started) -> int:
    from ontocast_spark.session import build_spark

    cpus = settings["cpus"]
    t_session = time.perf_counter()
    spark = build_spark(app_name=f"perfbench-{args.workload}",
                        master=f"local[{cpus}]", shuffle_partitions=cpus,
                        extra_conf=conf)
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        wl = workload(args.seed, trace, work_dir)
        t_input = time.perf_counter()
        sc.setJobGroup("setup", "setup")
        wl.setup(spark)
        setup_s = process_age_s() - (started if trace else 0.0)
        setup_parts = {"session_s": t_input - t_session,
                       "input_s": time.perf_counter() - t_input}

        warm = [repeat(wl, spark, f"warmup{i}", share)
                for i, share in enumerate(WARMUP_SHARES)]

        reps, store, errors = [], [], []
        raised = 0
        t_end = time.perf_counter() + args.seconds
        with procstat.PeakRss() as rss:
            while not (reps or raised) or time.perf_counter() < t_end:
                group = f"run{len(reps) + raised}"
                try:
                    reps.append(repeat(wl, spark, group))
                except Exception as exc:  # a repeat that raises is counted as failed
                    errors.append(f"{group} raised {exc!r}")
                    raised += 1
                    continue
                store.append(storage(spark))
        sc.setJobGroup("finish", "finish")
        final = wl.finish(spark)
    finally:
        stop_spark(spark)

    if not reps:
        print("perfbench: no repeat completed:", *errors, sep="\n  ", file=sys.stderr)
        return 1
    reference = {**warm[-1].outputs, **wl.reference()}
    pin = load_pins().get(args.workload, {}).get(str(args.seed))
    checked = [(r.group, r.outputs) for r in reps]
    layers = {}
    if final is not None:
        checked.append(("finish", final[0]))
        layers = final[1]
    bad = 0
    for group, outputs in checked:
        problems = wl.check(outputs, reference, pin)
        errors += [f"{group}: {e}" for e in problems]
        bad += bool(problems)
    attempted, failed = len(checked) + raised, raised + bad

    walls = [r.wall_s for r in reps]
    e2e = {
        "setup_s": [setup_s],
        "wall_s": walls,
        "turns_per_s": [wl.turns / w for w in walls],
        "cpu_s": [r.cpu_s for r in reps],
        "peak_rss_mb": [rss.peak_mb],
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": trace, "settings": settings, "turns": wl.turns, "setup_parts": setup_parts,
        "warmup_wall_s": [round(r.wall_s, 4) for r in warm],
        # the warm-up was long enough if its last repeat already ran at the
        # timed repeats' pace
        "warmup_steady": abs(warm[-1].wall_s - statistics.median(walls))
                         <= WARMUP_TOLERANCE * statistics.median(walls),
        "timed_wall_s": [round(r.wall_s, 4) for r in reps],
        "rss_at_peak_mb": rss.at_peak,
        "pin": pin, "reference": reference, "outputs": reps[-1].outputs if reps else None,
        "failures": errors, "failed_frac": failed / attempted,
        "storage_after_repeat": [[n, round(mb, 2)] for n, mb in store],
        "finish": final,
        "end_to_end": {k: quartiles(v) for k, v in e2e.items() if v},
    }
    if trace:
        metrics = per_layer(wl, reps, work_dir, layers, store, baseline_wall)
        report["per_layer"] = metrics
        units = PER_LAYER
    else:
        metrics = {k: report["end_to_end"][k]["median"] for k in END_TO_END}
        units = END_TO_END
        if not errors:
            record_untraced(args, metrics["wall_s"])
    for line in json.dumps(report, indent=1, default=str).splitlines():
        print(line)
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 1 if errors else 0


def load_pins() -> dict:
    with open(os.path.join(HERE, "pins.json")) as fh:
        return json.load(fh)


def per_layer(wl, reps, work_dir, layers, store, baseline_wall) -> dict:
    """Every per-layer metric; those of layers the workload does not
    exercise are 0."""
    import eventlog

    groups = eventlog.group_metrics(eventlog.read_events(os.path.join(work_dir, "eventlog")))
    empty = dict.fromkeys(eventlog.FIELDS, 0.0)
    runs = [groups.get(r.group, empty) for r in reps]

    def med(values):
        return statistics.median(values) if values else 0.0

    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({f"fused.{k}": med([r[k] for r in runs])
                for k in eventlog.FIELDS if k not in ("jobs", "tasks")})
    out["spark.jobs"] = med([r["jobs"] for r in runs])
    out["spark.tasks"] = med([r["tasks"] for r in runs])
    out["storage.retained_rdds"], out["storage.retained_mb"] = store[-1]
    out.update(wl.kernel_layers(out["fused.py_total_ms"]))
    out.update({k: v for k, v in layers.items() if k in PER_LAYER})
    out["crossdoc.jobs"] = groups.get("crossdoc", empty)["jobs"]
    out["dedup.jobs"] = groups.get("dedup", empty)["jobs"]
    out["trace.wall_s"] = med([r.wall_s for r in reps])
    out["trace.overhead_s"] = out["trace.wall_s"] - baseline_wall
    return out


if __name__ == "__main__":
    sys.exit(main())
