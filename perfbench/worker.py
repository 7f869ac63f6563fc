"""One measured engine session, run by ``run.py`` in a fresh process.

Usage: ``python3 perfbench/worker.py CONFIG.json``. The config names the
engine root, the input lake, the workload's keys in pass order, the run
length and whether to trace; the result goes to ``config["out"]``.

The engine is driven only through its public surface:
``session.get_spark``, ``registry.load_all``, ``loaders.load``,
``registry.QUERIES[key](spark, sf_dir)``, a ``noop`` write of the
returned DataFrame, and ``registry.clear_caches``. One client, closed
loop: each key is built, executed and released before the next starts.

Phases:

1. set-up: imports and ``load_all``, ``get_spark``, the first
   ``loaders.load``, one warm-up key outside the workload;
2. the first pass over the workload in the fresh session;
3. steady passes until ``seconds`` have elapsed and ``MIN_STEADY``
   untraced passes have run; with tracing on, untraced and traced
   passes alternate (checked, traced, untraced, traced at least) so
   the tracing overhead is measured in the same session;
4. output checks, untimed: in the first steady pass each key's output
   is collected and hashed after its timed ``noop`` write; after the
   last pass every key without an oracle is built and hashed again.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import canon
import layers
import proc

#: Untraced steady passes per run, at least. Three keep per-key medians
#: off the first steady pass, which still pays for JIT compilation,
#: leave two passes for CPU seconds besides the checked one, and with
#: ``--seconds`` below three passes the count does not depend on timing.
MIN_STEADY = 3
#: The pass whose outputs are checked: the first steady pass, never
#: traced. Its CPU seconds include the checks, so they are not used.
CHECK_PASS = 1

SUMMED = [n for n in layers.UNITS if n not in layers.RATIOS]
EXEC_FIELDS = ("cpu_s", "gc_s", "stages_run", "stages_skipped", "tasks",
               "tasks_failed", "input_mb", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb")


class Writes:
    """Bytes the process tree wrote to disk, from the kernel's per-process
    I/O accounting, and files created or changed under the run's
    directories, both since the previous call. Bytes are counted when
    written, so files deleted soon after (shuffle files the cleaner
    removes, replaced stream checkpoints) still count. A file is told by
    inode and ctime, because a rewrite can reuse a freed inode with the
    old size and writers may reset mtime (the streaming sources do)."""

    def __init__(self, dirs: list[str]):
        self.dirs = dirs
        self.bytes = proc.write_bytes(os.getpid())
        self.seen = self._snapshot()

    def _snapshot(self) -> dict[str, tuple[int, int, int]]:
        out = {}
        for d in self.dirs:
            for root, _dirs, files in os.walk(d):
                for f in files:
                    p = os.path.join(root, f)
                    try:
                        st = os.stat(p)
                    except OSError:  # deleted while walking
                        continue
                    out[p] = (st.st_ino, st.st_size, st.st_ctime_ns)
        return out

    def delta(self) -> tuple[int, int]:
        now, total = self._snapshot(), proc.write_bytes(os.getpid())
        files = sum(self.seen.get(p) != v for p, v in now.items())
        written, self.bytes, self.seen = total - self.bytes, total, now
        return written, files


class Bench:
    def __init__(self, cfg: dict, spark, registry):
        self.cfg = cfg
        self.spark = spark
        self.registry = registry
        self.sf_dir = cfg["sf_dir"]
        self.writes = Writes(cfg["write_dirs"])
        self.cores = spark.sparkContext.defaultParallelism
        self.attempted = 0
        self.errors: list[dict] = []
        self.schemas: dict[str, str] = {}  # first-pass schema per key
        self.checks: list[dict] = []
        self.tracer = None

    # -- one key ---------------------------------------------------------

    def run_key(self, key: str, pass_no: int) -> dict:
        """Build, execute and release one key, untraced. The write scan
        and the output check between execution and release are left out
        of the latency."""
        self.attempted += 1
        rec = {"key": key, "ok": True}
        t0 = time.perf_counter()
        df = None
        try:
            df = self.registry.QUERIES[key](self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed key is counted, the run goes on
            self._fail(rec, key, pass_no, "run", e)
        t1 = time.perf_counter()
        rec["write_bytes"] = self.writes.delta()[0]
        if rec["ok"] and pass_no == 0:
            self.schemas[key] = df.schema.simpleString()
        elif rec["ok"] and pass_no == CHECK_PASS:
            self._check(rec, key, df)
            self.writes.delta()  # what the check wrote is not the key's
        del df
        t2 = time.perf_counter()
        self.registry.clear_caches(self.spark)
        rec["latency_s"] = (t1 - t0) + (time.perf_counter() - t2)
        return rec

    def run_key_traced(self, key: str, pass_no: int, parent: int) -> dict:
        """The same call sequence with a span per phase, the jobs each
        phase started as child spans, and the layer counters."""
        tr = self.tracer
        spans, jobs = tr["spans"], tr["jobs"]
        self.attempted += 1
        rec = {"key": key, "ok": True}
        t_key = time.time()
        kspan = spans.add(key, "key", t_key, t_key, parent)
        lay = dict.fromkeys(SUMMED, 0.0)
        df = None
        phase = "build"
        try:
            n0, b0 = tr["py4j"].n, tr["batches"].n
            t0 = time.time()
            df = self.registry.QUERIES[key](self.spark, self.sf_dir)
            t1 = time.time()
            lay["build.py4j_calls"] = tr["py4j"].n - n0
            bjobs = jobs.new()
            self._phase_span(kspan, "build", t0, t1, bjobs)
            lay["build.s"] = t1 - t0
            lay["build.jobs"] = len(bjobs)
            lay["build.overhead_s"] = (t1 - t0) - layers.covered(
                t0, t1, [j for j in bjobs if j["t0"] and j["t1"]])
            phase = "plan"
            t0 = time.time()
            df._jdf.queryExecution().executedPlan()
            t1 = time.time()
            self._phase_span(kspan, "plan", t0, t1, jobs.new())
            lay["plan.s"] = t1 - t0
            phase = "exec"
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t1 = time.time()
            ejobs = jobs.new()
            self._phase_span(kspan, "exec", t0, t1, ejobs)
            lay["exec.s"] = t1 - t0
            lay["exec.jobs"] = len(ejobs)
            for f in EXEC_FIELDS:
                lay[f"exec.{f}"] = sum(j[f] for j in ejobs)
            lay["write.stream_batches"] = tr["batches"].n - b0
        except Exception as e:  # noqa: BLE001 - a failed key is counted, the run goes on
            self._fail(rec, key, pass_no, phase, e)
        wb, wf = self.writes.delta()
        lay["write.mb"], lay["write.files"] = wb / layers.MB, wf
        del df
        t0 = time.time()
        self.registry.clear_caches(self.spark)
        t1 = time.time()
        self._phase_span(kspan, "release", t0, t1, jobs.new())
        lay["release.s"] = t1 - t0
        lay["release.blocks_alive"] = layers.blocks_alive(self.spark)
        lay["release.storage_mb"] = layers.storage_mb(self.spark)
        spans.spans[kspan]["t1"] = time.time()
        spans.spans[kspan]["attrs"] = lay
        rec["latency_s"] = spans.spans[kspan]["t1"] - t_key
        rec["layers"] = lay
        return rec

    def _phase_span(self, parent: int, name: str, t0: float, t1: float,
                    jobs: list[dict]) -> None:
        spans = self.tracer["spans"]
        sid = spans.add(name, "phase", t0, t1, parent)
        for j in jobs:
            spans.add(f"job {j['id']}", "job", j["t0"] or t0, j["t1"] or t1,
                      sid, **{k: v for k, v in j.items() if k not in ("t0", "t1")})

    def _fail(self, rec: dict, key: str, pass_no: int, phase: str,
              e: Exception) -> None:
        rec["ok"] = False
        self.errors.append({"key": key, "pass": pass_no, "phase": phase,
                            "error": f"{type(e).__name__}: {e}"[:2000],
                            "traceback": traceback.format_exc()[-4000:]})

    # -- passes ----------------------------------------------------------

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        pid = os.getpid()
        cpu0, box0 = proc.cpu_by_kind(pid), proc.cpu_jiffies()
        t0 = time.time()
        parent = None
        if traced:
            self.tracer["jobs"].new(read=False)  # jobs of untraced passes
            parent = self.tracer["spans"].add(f"pass {pass_no}", "pass", t0,
                                              t0, self.tracer["root"])
        recs = []
        for key in self.cfg["keys"]:
            if traced:
                recs.append(self.run_key_traced(key, pass_no, parent))
            else:
                recs.append(self.run_key(key, pass_no))
        t1 = time.time()
        cpu1 = proc.cpu_by_kind(pid)
        if traced:
            self.tracer["spans"].spans[parent]["t1"] = t1
        out = {
            "pass": pass_no, "traced": traced, "checked": pass_no == CHECK_PASS,
            "wall_s": t1 - t0,
            "pass_s": sum(r["latency_s"] for r in recs),
            "keys": {r["key"]: r["latency_s"] for r in recs},
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "steal_pct": proc.steal_pct(box0, proc.cpu_jiffies()),
        }
        if traced:
            lay = {n: sum(r["layers"][n] for r in recs) for n in SUMMED}
            lay["exec.core_busy"] = (lay["exec.cpu_s"] / (lay["exec.s"] * self.cores)
                                     if lay["exec.s"] > 0 else 0.0)
            seen = lay["exec.stages_run"] + lay["exec.stages_skipped"]
            lay["exec.reuse_ratio"] = lay["exec.stages_skipped"] / seen if seen else 0.0
            out["layers"] = lay
        else:
            out["write_bytes"] = sum(r["write_bytes"] for r in recs)
        return out

    def start_tracing(self) -> None:
        batches = layers.StreamBatches()
        self.spark.streams.addListener(batches)
        spans = layers.Spans()
        now = time.time()
        self.tracer = {
            "spans": spans, "jobs": layers.Jobs(self.spark),
            "py4j": layers.Py4jCounter(self.spark), "batches": batches,
            "root": spans.add(self.cfg["workload"], "workload", now, now, None),
        }

    # -- checks ----------------------------------------------------------

    def _check(self, rec: dict, key: str, df) -> None:
        """Collect and hash the output of an executed key (untimed). The
        parent compares the hash with the DuckDB oracle; a key without
        an oracle must be non-empty, keep the schema the first pass
        built, and hash the same when ``recheck`` builds it again."""
        out = {"key": key, "ok": False}
        self.checks.append(out)
        self.attempted += 1
        try:
            pdf = df.toPandas()
        except Exception as e:  # noqa: BLE001 - recorded as a failed check
            self._fail(rec, key, CHECK_PASS, "check", e)
            return
        out.update(ok=True, hash=canon.frame_hash(pdf), rows=len(pdf), stable=None,
                   schema_ok=df.schema.simpleString() == self.schemas.get(key))

    def recheck(self, pass_no: int) -> None:
        """Build every key without an oracle once more after the steady
        passes (untimed) and hash its output again, so a builder whose
        output changes from one build to the next is caught."""
        for c in self.checks:
            if not c["ok"] or c["key"] in self.cfg["oracle_keys"]:
                continue
            self.attempted += 1
            try:
                df = self.registry.QUERIES[c["key"]](self.spark, self.sf_dir)
                c["stable"] = canon.frame_hash(df.toPandas()) == c["hash"]
                del df
            except Exception as e:  # noqa: BLE001 - recorded as a failed check
                self._fail({}, c["key"], pass_no, "recheck", e)
            self.registry.clear_caches(self.spark)


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    from pudatalake_spark import loaders, registry, session

    registry.load_all()
    t_import = time.time()
    spark = session.get_spark(app_name="perfbench")
    t_session = time.time()
    loaders.load(spark, cfg["sf_dir"])
    t_load = time.time()
    bench = Bench(cfg, spark, registry)
    bench.run_key(cfg["warmup_key"], -1)  # a failure lands in bench.errors
    t_ready = time.time()
    res = {
        "setup": {
            "setup_s": t_ready - cfg["spawn_epoch"],
            "import_s": t_import - cfg["spawn_epoch"],
            "session_s": t_session - t_import,
            "load_s": t_load - t_session,
            "warmup_s": t_ready - t_load,
        },
        "cores": bench.cores,
        "spark_version": spark.version,
    }
    if cfg["trace"]:
        bench.start_tracing()
    passes = [bench.run_pass(0, traced=False)]
    t_steady = time.time()
    while True:
        steady = [p for p in passes[1:] if not p["traced"]]
        traced = [p for p in passes[1:] if p["traced"]]
        if cfg["trace"]:
            enough = len(steady) >= 2 and len(traced) >= 2
        else:
            enough = len(steady) >= MIN_STEADY
        if enough and time.time() - t_steady >= cfg["seconds"]:
            break
        passes.append(bench.run_pass(len(passes), traced=bool(
            cfg["trace"] and len(steady) > len(traced))))
    res["passes"] = passes
    res["mem_peak_by_kind"] = proc.peak_rss_by_kind(os.getpid())
    res["mem_peak_mb"] = sum(res["mem_peak_by_kind"].values())
    bench.recheck(len(passes))
    res["blocks_alive"] = layers.blocks_alive(spark)
    res["checks"] = bench.checks
    if cfg["trace"]:
        root = bench.tracer["spans"].spans[bench.tracer["root"]]
        root["t1"] = time.time()
        bench.tracer["spans"].write(cfg["trace_file"])
    res["attempted"] = bench.attempted
    res["errors"] = bench.errors
    with open(cfg["out"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    code = 1
    try:
        main()
        code = 0
    except Exception:  # noqa: BLE001 - reported; the parent sees no result
        traceback.print_exc()
    finally:
        # No graceful stop and no exit hooks: run.py kills and reaps the
        # JVM and the Python workers.
        sys.stdout.flush()
        sys.stderr.flush()
        os._exit(code)