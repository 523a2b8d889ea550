#!/usr/bin/env python
"""Benchmark harness.

Default mode: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}. Extra keys report the KG pipeline's turns/sec (the
BASELINE.json throughput metric). Each query is warmed up once then
timed best-of-3 (host noise only adds time, so min is the robust
statistic on this 30-50%-variance VM); per-query raw samples and the
/proc/stat steal fraction ride along under "samples"/"steal_pct" so a
noisy window is visible in the recorded number's context.

--scaling mode: runs the identical KG job at two pinned core counts
(default local[2] vs local[8] — the pair under this box's
memory-bandwidth ceiling; see BENCH/BASELINE.md) on the same synthetic
input and reports throughput at both plus scaling efficiency =
(T_large/T_small)/factor — the sandbox evidence for the north rule's
two-cluster-size criterion (a real multi-executor cluster is
unavailable here). Use --cores-small/--cores-large/--n-convs for other
points; efficiency rises with input volume (0.93+ through 16 cores at
~1M turns). Results append to BENCH/BASELINE.md with --write-md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# synthetic KG corpus size for the throughput benchmark
N_CONVS = int(os.environ.get("BENCH_KG_CONVS", "20000"))

HEADLINE = [
    "q_kg_pipeline",
    "q_doc_assembly",
    "q_agg_pricing",
    "q_join_revenue",
    "q_minhash_sig",
    "q_simhash",
    "q_ann_topk",
    "q_sessionize",
]


def _count(df) -> int:
    return df.count()


def _synth_conversations(spark, n_convs: int):
    """Distributed deterministic corpus: conv ids fan out over
    partitions; each partition generates its conversations locally."""
    from pyspark.sql import functions as F  # noqa: F401

    from ontocast_spark.schemas import CONVERSATIONS
    from ontocast_spark.synth import gen_conversation

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for idx in pdf["id"]:
                rows.extend(gen_conversation(int(idx), seed=42))
            yield pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            )

    cores = int(spark.sparkContext.defaultParallelism)
    return (
        spark.range(n_convs)
        .repartition(cores)
        .mapInPandas(gen, schema=CONVERSATIONS)
    )


def run_kg_job(spark, n_convs: int) -> tuple[float, int, int]:
    """Returns (elapsed_sec, n_turns, n_triples) for the full pipeline."""
    from ontocast_spark.pipeline import PipelineConfig, run_pipeline

    conv = _synth_conversations(spark, n_convs)
    conv = conv.persist()
    n_turns = conv.count()  # materialize input outside the timed window
    t0 = time.perf_counter()
    out = run_pipeline(spark, conv, config=PipelineConfig())
    n_triples = out["kg_triples"].count()
    elapsed = time.perf_counter() - t0
    conv.unpersist()
    return elapsed, n_turns, n_triples


def _best_of(fn, runs: int = 3) -> tuple[float, list[float], float]:
    """Run ``fn`` (returns elapsed seconds) ``runs`` times; return
    (best, all_samples, steal_pct over the whole window). Best-of-N is
    the noise-robust statistic here: host steal/contention only ever
    ADDS time, so the minimum is the closest observation to the code's
    true cost (this VM swings 30-50% run to run — round 2's driver
    snapshot recorded 15.1s for a pipeline that runs in 4.6s)."""
    s0, t0 = _cpu_sample()
    samples = [round(fn(), 3) for _ in range(runs)]
    s1, t1 = _cpu_sample()
    steal = round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2)
    return min(samples), samples, steal


def bench_default(runs: int = 3) -> dict:
    from ontocast_spark.queries import QUERIES
    from ontocast_spark.session import build_spark

    spark = build_spark(app_name="bench", master=f"local[{CPUS}]",
                        shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("WARN")
    queries: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    steal: dict[str, float] = {}
    kg_stats = {}
    total = 0.0
    for name in HEADLINE:
        if name == "q_kg_pipeline":
            run_kg_job(spark, max(N_CONVS // 10, 10))  # JIT/codegen warmup
            kg_runs = []

            def kg_once():
                elapsed, n_turns, n_triples = run_kg_job(spark, N_CONVS)
                kg_runs.append((elapsed, n_turns, n_triples))
                return elapsed

            best, samples[name], steal[name] = _best_of(kg_once, runs)
            queries[name] = round(best, 3)
            _, n_turns, n_triples = min(kg_runs)
            kg_stats = {
                "kg_turns": n_turns,
                "kg_triples": n_triples,
                "kg_turns_per_sec": round(n_turns / best, 1),
            }
        else:
            _count(QUERIES[name](spark, SF_DIR))  # codegen/JIT warmup

            def q_once(q=QUERIES[name]):
                t0 = time.perf_counter()
                _count(q(spark, SF_DIR))
                return time.perf_counter() - t0

            best, samples[name], steal[name] = _best_of(q_once, runs)
            queries[name] = round(best, 3)
        total += queries[name]
    spark.stop()
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline queries total (KG pipeline + operators)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **kg_stats,
        "agg": f"best_of_{runs}",
        "samples": samples,
        "steal_pct": steal,
    }


def _cpu_sample() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from /proc/stat — hypervisor noise."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except Exception:
        return 0, 0


def kg_run_once(cores: int, n_convs: int) -> dict:
    """One pinned measurement: local[cores] with warmup + best-of-2
    steady-state runs (the first big run pays JIT/codegen/heap growth).
    Reports the host steal fraction over the measurement window — the
    per-run noise context for the scaling-efficiency numbers."""
    from ontocast_spark.session import build_spark

    spark = build_spark(
        app_name=f"bench-scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    spark.sparkContext.setLogLevel("WARN")
    run_kg_job(spark, max(n_convs // 4, 10))
    s0, t0 = _cpu_sample()
    elapsed, n_turns, n_triples = run_kg_job(spark, n_convs)
    e2, _, _ = run_kg_job(spark, n_convs)
    s1, t1 = _cpu_sample()
    elapsed = min(elapsed, e2)
    spark.stop()
    steal_pct = round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2)
    return {
        "elapsed_sec": round(elapsed, 3),
        "turns": n_turns,
        "triples": n_triples,
        "turns_per_sec": round(n_turns / elapsed, 1),
        "steal_pct": steal_pct,
    }


def bench_scaling(n_convs: int, small: int = 8, large: int = 32, repeats: int = 2) -> dict:
    """Run the identical job at 8 and 32 cores. Each level runs in a
    subprocess pinned with taskset to exactly that many physical CPUs --
    otherwise the JVM's GC/shuffle threads and the Python workers of the
    'small cluster' silently use all 32 cores and inflate its baseline
    (a real N-executor cluster has no such spillover)."""
    import shutil
    import subprocess

    results = {}
    have_taskset = shutil.which("taskset") is not None

    def run_level(cores: int) -> dict:
        cmd = []
        if have_taskset:
            cmd += ["taskset", "-c", f"0-{cores - 1}"]
        cmd += [
            sys.executable, os.path.abspath(__file__),
            "--kg-run", "--cores", str(cores), "--n-convs", str(n_convs),
        ]
        out = subprocess.run(
            cmd, capture_output=True, text=True, check=True
        ).stdout.strip().splitlines()[-1]
        return json.loads(out)

    # interleave the two levels (A/B/A/B) and keep the per-level best —
    # this VM shows 30-50% run-to-run variance, and interleaving removes
    # slow-host phases from the comparison
    for cores in (small, large) * repeats:
        r = run_level(cores)
        if cores not in results or r["elapsed_sec"] < results[cores]["elapsed_sec"]:
            results[cores] = r
    factor = large / small
    eff = results[large]["turns_per_sec"] / results[small]["turns_per_sec"] / factor
    return {
        "n_convs": n_convs,
        "cpu_pinned": have_taskset,
        f"local{small}": results[small],
        f"local{large}": results[large],
        "scale_factor": factor,
        "scaling_efficiency": round(eff, 3),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--kg-run", action="store_true", help="internal: one pinned run")
    ap.add_argument("--cores", type=int, default=CPUS)
    ap.add_argument("--write-md", action="store_true")
    ap.add_argument("--n-convs", type=int, default=N_CONVS)
    # default pair 2->8: the pair that stays under this single box's
    # memory-bandwidth ceiling (BENCH/BASELINE.md analysis) — 8->32 on
    # one box measures the bandwidth wall, not the code's scalability
    # (a real 4N-executor cluster adds buses with the cores)
    ap.add_argument("--cores-small", type=int, default=2)
    ap.add_argument("--cores-large", type=int, default=8)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--runs", type=int, default=3,
                    help="timed runs per headline query (best-of)")
    args = ap.parse_args()
    if args.kg_run:
        print(json.dumps(kg_run_once(args.cores, args.n_convs)))
    elif args.scaling:
        res = bench_scaling(args.n_convs, args.cores_small, args.cores_large, args.repeats)
        print(json.dumps(res))
        if args.write_md:
            md = (
                "\n## Measured scaling evidence (bench.py --scaling)\n\n"
                f"KG pipeline over {res['n_convs']} synthetic conversations "
                f"({res[f'local{args.cores_large}']['turns']} turns), identical input, "
                "identical job:\n\n"
                "| cores | elapsed (s) | turns/sec |\n|---|---|---|\n"
                f"| local[{args.cores_small}] | {res[f'local{args.cores_small}']['elapsed_sec']} | "
                f"{res[f'local{args.cores_small}']['turns_per_sec']} |\n"
                f"| local[{args.cores_large}] | {res[f'local{args.cores_large}']['elapsed_sec']} | "
                f"{res[f'local{args.cores_large}']['turns_per_sec']} |\n\n"
                f"Scaling efficiency (T_large/T_small)/{res['scale_factor']:.0f} = "
                f"**{res['scaling_efficiency']}** (target >= 0.8).\n"
            )
            os.makedirs("BENCH", exist_ok=True)
            with open("BENCH/BASELINE.md", "a") as f:
                f.write(md)
    else:
        print(json.dumps(bench_default(args.runs)))


if __name__ == "__main__":
    main()
