"""Lake benchmark: three workloads driven through the engine's public surface.

Usage, from the repository root:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 4 --trace 0

Each run generates its input lake from ``--seed`` (``lake.py``), runs one
engine session in a fresh process (``worker.py``) on ``local[nproc]``
with one client in a closed loop, checks the outputs, and prints a
report followed by one JSON line. With ``--trace 0`` the JSON carries
the gated end-to-end metrics (the report prints all of them); with
``--trace 1`` the per-layer metrics of a traced run, whose spans go to
``.perfbench/traces/``. Everything the
run writes stays under ``.perfbench/`` in the repository root.

Input size: the generated lake is TPC-H scale 0.01 shaped (60,000
lineitem rows, about 2 MB of parquet), far inside the driver heap and
the page cache. No workload has a working set larger than memory.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import lake  # noqa: E402
import layers  # noqa: E402
import proc  # noqa: E402

WORKLOADS = {
    # Read-only shuffle, join, aggregate and window plans with cheap
    # builders: execution-layer and session-config changes show here.
    # q_events_concurrent_peak materializes through
    # session.superstep_checkpoint, so the checkpoint leak shows here.
    "olap": ["q_agg_groupby", "q_join_inner_shuffle", "q_tpch_q5",
             "q_stream_session", "q_events_concurrent_peak"],
    # LLM-pipeline operators: py4j-bound plan construction and
    # persisted intermediates (minhash), and an Arrow-batched pandas
    # worker (multimodal decode).
    "llm": ["q_dedup_exact", "q_dedup_near_minhash", "q_multimodal_decode"],
    # Writes beside reads: partitioned parquet, MERGE, SCD2 and a
    # streaming foreachBatch upsert with its checkpoint and state.
    "ingest": ["sink_parquet_partitioned", "q_merge_upsert", "q_scd2_build",
               "s_foreachbatch_upsert"],
}
#: End-to-end metrics that go into the JSON line (BENCHMARK.json's
#: ``end_to_end``): the ones that repeat across runs on a shared 4-vCPU
#: VM. The rest are printed with their sample counts. Steady wall time,
#: per-key latency and CPU seconds move with hypervisor steal, and peak
#: memory with JVM heap growth, by nearly or more than the largest bound
#: BENCHMARK.json may set; ``failed_frac`` and ``blocks_alive`` can read
#: 0, and ``failed`` and ``attempted`` in the JSON line give
#: ``failed_frac`` anyway.
GATED = ("setup_s", "first_pass_s", "write_amp")
#: Runs in set-up; belongs to no workload, so every first pass is cold.
WARMUP_KEY = "q_topk"
SCALE = 0.01
#: A run must end within this many seconds, set-up and checks included.
DEADLINE_S = 170


def tail_percentile(xs: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it, capped
    at p90 (which needs 100 samples); None below 20 samples."""
    n = len(xs)
    if n < 20:
        return None
    q = min(90, 100 * (n - 10) // n)
    return f"query_s.p{q}", sorted(xs)[q * n // 100]


def end_to_end(res: dict, lake_bytes: int, failed: int) -> dict:
    """Every end-to-end metric: name -> (value, unit, samples).

    ``pass_s`` sums each key's median latency over the steady passes, so
    one slow key in one pass moves it less than a slow pass would.
    ``cpu_s`` leaves out the pass whose outputs were checked: collecting
    and hashing them costs CPU that no key's latency includes.
    ``write_amp`` takes the smallest steady pass: the JVM now and then
    writes a few hundred KB that no key asked for, and such writes only
    add."""
    passes = res["passes"]
    steady = [p for p in passes[1:] if not p["traced"]]
    clean = [p for p in steady if not p["checked"]]
    n = len(steady)
    lat = [s for p in steady for s in p["keys"].values()]
    m = {
        "setup_s": (res["setup"]["setup_s"], "s", 1),
        "first_pass_s": (passes[0]["pass_s"], "s", 1),
        "pass_s": (sum(statistics.median(p["keys"][k] for p in steady)
                       for k in steady[0]["keys"]), "s", n),
        "query_s.p50": (statistics.median(lat), "s", len(lat)),
        "cpu_s": (statistics.median(sum(p["cpu"].values()) for p in clean),
                  "s", len(clean)),
        "mem_peak_mb": (res["mem_peak_mb"], "MB", 1),
        "write_amp": (min(p["write_bytes"] for p in steady) / lake_bytes, "ratio", n),
        "failed_frac": (failed / res["attempted"], "ratio", res["attempted"]),
        "blocks_alive": (res["blocks_alive"], "count", 1),
    }
    tail = tail_percentile(lat)
    if tail:
        m[tail[0]] = (tail[1], "s", len(lat))
    return m


def per_layer(res: dict) -> dict:
    """Per-layer metrics of a traced run: name -> (value, unit, samples).
    Layer sums are medians over traced passes; CPU per process kind is
    from the untraced passes of the same session."""
    passes = res["passes"][1:]
    traced = [p for p in passes if p["traced"]]
    steady = [p for p in passes if not p["traced"] and not p["checked"]]
    m = {name: (statistics.median(p["layers"][name] for p in traced), unit, len(traced))
         for name, unit in layers.UNITS.items()}
    for kind in ("driver_py", "jvm", "pyworker"):
        m[f"cpu.{kind}_s"] = (statistics.median(p["cpu"][kind] for p in steady),
                              "s", len(steady))
    for part in ("session", "import", "load", "warmup"):
        m[f"setup.{part}_s"] = (res["setup"][f"{part}_s"], "s", 1)
    m["trace.overhead"] = (statistics.median(p["wall_s"] for p in traced)
                           / statistics.median(p["wall_s"] for p in steady),
                           "ratio", len(traced))
    return m


def oracle_hashes(keys: list[str], lake_dir: str) -> dict[str, str]:
    """DuckDB oracle result hash for every key that has an oracle."""
    import duckdb

    sys.path.insert(0, ROOT)
    import canon
    from pudatalake_spark import loaders, registry
    from pudatalake_spark.llmops import dedup

    sql = registry.oracles()
    # MinHash banding can miss a true pair; its exact-pair oracle holds
    # only on corpora whose recall was measured. Elsewhere the key is
    # checked like a key without an oracle, as the engine's own oracle
    # sweep does.
    if not dedup.minhash_oracle_covers(lake_dir)[0]:
        sql.pop("q_dedup_near_minhash", None)
    con = duckdb.connect()
    try:
        for t in loaders.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{lake_dir}/{t}.parquet')")
        return {k: canon.frame_hash(con.execute(sql[k]).fetchdf())
                for k in keys if k in sql}
    finally:
        con.close()


def verdict(res: dict, oracle: dict[str, str]) -> tuple[bool, int, list[str]]:
    """Whether every output checked out, the failed-execution count, and
    one line per problem."""
    problems = [f"{e['key']} [{e['phase']}, pass {e['pass']}]: {e['error']}"
                for e in res["errors"]]
    failed = len(res["errors"])
    for c in res["checks"]:
        if not c["ok"]:  # raised; already counted in errors
            continue
        k = c["key"]
        if k in oracle:
            bad = c["hash"] != oracle[k] and f"{k}: differs from the DuckDB oracle"
        else:
            bad = ((c["rows"] == 0 and f"{k}: empty result")
                   or (c["stable"] is False and f"{k}: hash differs between builds")
                   or (not c["schema_ok"] and f"{k}: schema differs from the timed run"))
        if bad:
            problems.append(bad)
            failed += 1
    return not problems, failed, problems


def launch(cfg: dict, env: dict, run_dir: str, deadline: float) -> dict | None:
    """Run the worker and wait for it and everything it started. Its
    output goes through a pipe into memory, not into a file: console
    output that varies with timing would otherwise count as bytes the
    engine wrote to disk."""
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        start_new_session=True)
    tail: collections.deque[bytes] = collections.deque(maxlen=100)
    reader = threading.Thread(target=tail.extend, args=(child.stdout,), daemon=True)
    reader.start()
    timed_out = False
    try:
        child.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        timed_out = True
        print(f"worker exceeded the {DEADLINE_S} s deadline", file=sys.stderr)
    finally:
        child.kill()  # a no-op unless the worker is stuck
        child.wait()
        proc.reap_all()  # the JVM, the Python daemon and its workers
        reader.join(timeout=10)
        child.stdout.close()
    if timed_out or child.returncode != 0 or not os.path.exists(cfg["out"]):
        sys.stderr.write(b"".join(tail).decode(errors="replace"))
        return None
    with open(cfg["out"]) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="TPC-H scale factor of the generated lake")
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    if not os.path.isfile(os.path.join(ROOT, "pudatalake_spark", "registry.py")):
        print(f"engine package pudatalake_spark not found under {ROOT}",
              file=sys.stderr)
        return 2

    proc.become_subreaper()
    box_before = (proc.cpu_jiffies(), os.getloadavg())
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(
        work, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {d: os.path.join(run_dir, d) for d in ("lake", "scratch", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    trace_dir = os.path.join(work, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    try:
        sizes = lake.write(dirs["lake"], args.seed, args.scale)
        lake_bytes = sum(s["bytes"] for s in sizes.values())
        keys = list(WORKLOADS[args.workload])
        random.Random(args.seed).shuffle(keys)  # the seed fixes the key order
        oracle = oracle_hashes(keys, dirs["lake"])

        nproc = len(os.sched_getaffinity(0))
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_CPUS", str(nproc))
        env.update({
            "PUDL_SCRATCH": dirs["scratch"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "TMPDIR": dirs["tmp"],
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, env.get("PYTHONPATH", "")) if p),
            # HotSpot puts its perf-counter file in /tmp whatever
            # java.io.tmpdir says; keep it in memory instead.
            "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "")
                                  + f" -Djava.io.tmpdir={dirs['tmp']}"
                                  + " -XX:+PerfDisableSharedMem").strip(),
        })
        trace_file = os.path.join(
            trace_dir, f"{args.workload}-seed{args.seed}.json")
        cfg = {
            "root": ROOT, "workload": args.workload, "sf_dir": dirs["lake"],
            "keys": keys, "warmup_key": WARMUP_KEY, "seconds": args.seconds,
            "trace": bool(args.trace), "oracle_keys": sorted(oracle),
            "write_dirs": [dirs["scratch"], dirs["local"]],
            "trace_file": trace_file,
            "out": os.path.join(run_dir, "result.json"),
            "spawn_epoch": time.time(),
        }
        res = launch(cfg, env, run_dir, deadline)
        if res is None:
            print("the engine session failed; no result", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    correct, failed, problems = verdict(res, oracle)
    if args.trace:
        metrics, gated = per_layer(res), None
    else:
        metrics, gated = end_to_end(res, lake_bytes, failed), GATED
    box_after = (proc.cpu_jiffies(), os.getloadavg())
    steady = [p for p in res["passes"][1:] if not p["traced"]]
    context = {
        "workload": args.workload, "seed": args.seed, "keys": keys,
        "nproc": nproc, "ram_gb": round(proc.mem_total_gb(), 1),
        "spark_graft_cpus": env["SPARK_GRAFT_CPUS"], "cores": res["cores"],
        "spark": res["spark_version"], "python": sys.version.split()[0],
        "scale": args.scale, "lake": sizes, "lake_bytes": lake_bytes,
        "working_set_exceeds_memory": False,
        "loadavg_before": box_before[1], "loadavg_after": box_after[1],
        "steal_pct": round(proc.steal_pct(box_before[0], box_after[0]), 2),
        "pass_steal_pct": [round(p["steal_pct"], 2) for p in res["passes"]],
        "passes": len(res["passes"]), "steady_passes": len(steady),
        "steady_pass_s": [round(p["pass_s"], 3) for p in steady],
        "steady_write_bytes": [p["write_bytes"] for p in steady],
        "steady_cpu_s": [{k: round(v, 2) for k, v in p["cpu"].items()} for p in steady],
        "steady_pass_key_s": [{k: round(v, 3) for k, v in p["keys"].items()}
                              for p in steady],
        "mem_peak_mb_by_kind": {k: round(v, 1) for k, v in res["mem_peak_by_kind"].items()},
        "first_pass_key_s": {k: round(v, 3) for k, v in res["passes"][0]["keys"].items()},
        "steady_key_s": {k: round(statistics.median(p["keys"][k] for p in steady), 3)
                         for k in keys},
    }
    if args.trace:
        context["trace_file"] = os.path.relpath(trace_file, ROOT)
    print("# context " + json.dumps(context))
    for p in problems:
        print("# FAILED " + p)
    for name, (value, unit, n) in metrics.items():
        note = "" if gated is None or name in gated else ", not gated"
        print(f"# {name} = {value:.6g} {unit} (n={n}{note})")
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _n) in metrics.items()
                    if gated is None or k in gated},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
