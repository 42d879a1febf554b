#!/usr/bin/env python3
"""Benchmark of the yamr_spark engine.

Run from the repository root:

    python3 yamrbench/run.py --workload {floor,curate} \\
        --seed N --seconds S --trace {0,1}

One driver process on ``local[<cpus>]`` runs the workload's registered
queries one after another (a closed loop with one client). A pass runs
every query once: it starts with ``free_shared_caches()``, calls
``free_blocks()`` after each query, and writes each result through
``sources.write_parquet``. Untimed warm passes come first, then a fixed
number of timed passes that fills about ``--seconds`` (see
``Workload.timed_passes``). The last pass's outputs are checked against
each query's DuckDB oracle; an empty output counts as failed, because
an empty result cannot show a wrong one.

The inputs are generated from ``--seed`` by ``inputs.py``; everything
the run writes lives under ``.yamrbench_run/`` in the repository root
and is removed before exit, after the JVM and its Python workers have
exited.

Output: a ``yamrbench-run {...}`` line describing the run, then one
JSON line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``pass_s``, ``query_p50_s``, ``query_tail_s``); with ``--trace 1`` the
run adds traced passes and reports the per-layer ones instead.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402

import inputs  # noqa: E402
import stats  # noqa: E402
from workloads import EXACT_DUP_RATE, WARM_PASSES, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACE_PATTERN = (False, True, True, False)  # after the warm passes of a traced run
TRACED_FUNCTIONS = (  # (module, function, span name), besides the harness's own calls
    ("yamr_spark.tables", "table", "tables.table"),
    ("yamr_spark.materialize", "materialize", "materialize.materialize"),
    ("yamr_spark.materialize", "materialize_eager", "materialize.materialize_eager"),
    ("yamr_spark.compat.mapreduce", "run_job", "compat.run_job"),
)
MAX_DRIVER_MEM_MB = 4096
_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ── host facts ──────────────────────────────────────────────────────


def host_cpus() -> tuple[int, str]:
    try:
        return len(os.sched_getaffinity(0)), "sched_getaffinity"
    except AttributeError:
        return os.cpu_count() or 1, "os.cpu_count"


def driver_mem_mb() -> int:
    """A quarter of the host's memory, at most ``MAX_DRIVER_MEM_MB``."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return min(MAX_DRIVER_MEM_MB, int(line.split()[1]) // 1024 // 4)
    return MAX_DRIVER_MEM_MB


def cpu_steal_total() -> tuple[int, int]:
    """(steal, total) jiffies of the host from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()  # fields from "state" on


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by this process and its live descendants."""
    total = 0.0
    for p in [pid, *descendants(pid)]:
        st = _stat(p)
        if st:
            total += (int(st[11]) + int(st[12])) / _CLK_TCK
    return total


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# ── the engine session ──────────────────────────────────────────────


class Engine:
    """A yamr_spark session whose every file lives under ``scratch``."""

    def __init__(self, scratch: str, cpus: int, mem_mb: int, event_log: str | None):
        for sub in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(scratch, sub), exist_ok=True)
        tmp = os.path.join(scratch, "tmp")
        os.environ.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        )
        tempfile.tempdir = tmp
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        from yamr_spark import materialize, registry, sources
        from yamr_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(scratch, "local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{event_log}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark("yamrbench", extra_conf=conf)
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        self.materialize = materialize
        self.sources = sources

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def close(self) -> None:
        """Stop the session, end the JVM and wait until it and every
        process it started (Python workers) have exited."""
        proc = self.sc._gateway.proc
        kids = descendants(os.getpid())
        try:
            self.spark.stop()
        finally:
            # the gateway JVM exits on stdin EOF; py4j's own socket
            # shutdown can block once a callback server has run, and its
            # threads are daemons, so it is left to interpreter exit
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
            deadline = time.monotonic() + 30
            while any(alive(p) for p in kids) and time.monotonic() < deadline:
                time.sleep(0.1)
            for p in kids:
                if alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            while any(alive(p) for p in kids):
                time.sleep(0.1)


# ── passes ──────────────────────────────────────────────────────────


class Harness:
    def __init__(self, engine: Engine, wl, out_dir: str, tracer=None):
        self.engine = engine
        self.wl = wl
        self.out_dir = out_dir
        self.tracer = tracer
        self.catalyst = None  # set for the traced passes
        self.attempted = 0
        self.errors: list[str] = []
        self.freed: dict[int, int] = {}
        self.write_bytes: dict[int, int] = {}

    def _call(self, name, fn, *args):
        return self.tracer.call(name, fn, *args) if self.tracer else fn(*args)

    def run_pass(self, idx: int, sf_dir: str, traced: bool = False) -> tuple[float, dict]:
        """One pass over the workload's queries: (wall seconds, latency
        per query). A query that raises is recorded and skipped."""
        eng, sc, M = self.engine, self.engine.sc, self.engine.materialize
        tr = self.tracer if traced else None
        if tr:
            tr.enabled = True
            tr.tag = (idx, None)
        lat: dict[str, float] = {}
        t_pass = time.perf_counter()
        freed = self._call("materialize.free_shared_caches", M.free_shared_caches)
        for name in self.wl.queries:
            self.attempted += 1
            out = os.path.join(self.out_dir, name)
            df = None
            if tr:
                tr.tag = self.catalyst.tag = (idx, name)
            try:
                sc.setJobDescription(f"yamrbench|{idx}|{name}|build")
                t0 = time.perf_counter()
                df = self._call("queries.build", eng.queries[name], eng.spark, sf_dir)
                sc.setJobDescription(f"yamrbench|{idx}|{name}|write")
                self._call("sources.write_parquet", eng.sources.write_parquet, df, out)
                lat[name] = time.perf_counter() - t0
            except Exception as ex:  # a failing query is counted, not fatal
                self.errors.append(f"pass {idx} {name}: {type(ex).__name__}: {ex}"[:300])
                traceback.print_exc(file=sys.stderr)
            finally:
                sc.setJobDescription(None)
                freed += self._call("materialize.free_blocks", M.free_blocks)
            if tr:
                if df is not None:
                    self.catalyst.record_built(df)
                self.catalyst.flush()
                self.write_bytes[idx] = self.write_bytes.get(idx, 0) + dir_bytes(out)
        wall = time.perf_counter() - t_pass
        if tr:
            tr.enabled = False
            tr.tag = None
        self.freed[idx] = freed
        return wall, lat


class Inputs:
    """The workload's generated documents: one file re-read every pass,
    or a fresh shard per pass drawn from (seed, pass index)."""

    def __init__(self, wl, seed: int, root: str):
        self.wl, self.seed, self.root = wl, seed, root
        self.gen_s = 0.0
        self.files: dict[int, tuple[str, int]] = {}

    def sf_dir(self, pass_idx: int) -> str:
        key = pass_idx if self.wl.fresh_shard_per_pass else 0
        if key not in self.files:
            t0 = time.perf_counter()
            seed = self.seed
            if self.wl.fresh_shard_per_pass:
                seed = int(np.random.SeedSequence([self.seed, pass_idx]).generate_state(1)[0])
                for old, (old_dir, _) in list(self.files.items()):
                    shutil.rmtree(old_dir, ignore_errors=True)
                    del self.files[old]
            d = os.path.join(self.root, f"p{key}")
            os.makedirs(d, exist_ok=True)
            size = inputs.write_documents(
                os.path.join(d, "documents.parquet"),
                self.wl.n_docs,
                seed,
                EXACT_DUP_RATE,
                self.wl.near_dup_rate,
                families=self.wl.families,
                contaminated=self.wl.contaminated,
            )
            self.files[key] = (d, size)
            self.gen_s += time.perf_counter() - t0
        return self.files[key][0]


def check_outputs(engine_oracles: dict, wl, sf_dir: str, out_dir: str, cpus: int) -> list[str]:
    """Untimed, after the JVM has exited, so DuckDB gets every core.
    Every output must also be non-empty: the inputs plant the rows each
    query should find, and an empty result would match an empty oracle
    whatever the program did."""
    import pyarrow.parquet as pq

    from oracle import OracleDB

    db = OracleDB({"documents": os.path.join(sf_dir, "documents.parquet")}, threads=cpus)
    bad = []
    try:
        for name in wl.queries:
            if name not in engine_oracles:
                bad.append(f"{name}: no oracle")
                continue
            out = os.path.join(out_dir, name)
            try:
                why = db.check(engine_oracles[name], out)
                if not why and pq.read_table(out, columns=[]).num_rows == 0:
                    why = "empty result"
            except Exception as ex:
                why = f"{type(ex).__name__}: {ex}"[:300]
            if why:
                bad.append(f"{name}: {why}")
    finally:
        db.close()
    return bad


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, wl, scratch: str) -> tuple[dict, dict]:
    cpus, cpus_from = host_cpus()
    mem_mb = driver_mem_mb()
    data = Inputs(wl, args.seed, os.path.join(scratch, "inputs"))
    out_dir = os.path.join(scratch, "out")
    event_log = os.path.join(scratch, "eventlog") if args.trace else None
    data.sf_dir(0)  # generate before the engine starts

    engine = Engine(scratch, cpus, mem_mb, event_log)
    tracer = catalyst = None
    try:
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
        h = Harness(engine, wl, out_dir, tracer)
        walls, cpu_s, loads = [], [], []

        def one_pass(idx, traced=False):
            sf = data.sf_dir(idx)
            loads.append(round(os.getloadavg()[0], 2))
            c0 = tree_cpu_s(os.getpid())
            wall, lat = h.run_pass(idx, sf, traced)
            cpu_s.append(round(tree_cpu_s(os.getpid()) - c0, 3))
            walls.append(round(wall, 4))
            return wall, lat, sf

        for i in range(WARM_PASSES):
            one_pass(i)
        setup_s = time.perf_counter() - _T_START - data.gen_s

        samples: dict[str, list[float]] = {q: [] for q in wl.queries}
        plain_walls, traced_walls, traced_idx = [], [], []
        idx, last_sf = WARM_PASSES, None
        steal0 = cpu_steal_total()
        if not args.trace:
            for _ in range(wl.timed_passes(args.seconds)):
                _, lat, last_sf = one_pass(idx)
                for q, v in lat.items():
                    samples[q].append(v)
                idx += 1
        else:
            # plain, traced, traced, plain: the overhead estimate
            # (traced minus plain pass wall) cancels a linear warm-up trend
            from tracing import CatalystListener

            catalyst = h.catalyst = CatalystListener(engine.spark)
            for mod, attr, span in TRACED_FUNCTIONS:
                tracer.patch(mod, attr, span)
            try:
                for traced in TRACE_PATTERN:
                    if traced:
                        catalyst.register()
                    try:
                        wall, lat, last_sf = one_pass(idx, traced)
                    finally:
                        if traced:
                            catalyst.unregister()
                    (traced_walls if traced else plain_walls).append(wall)
                    if traced:
                        traced_idx.append(idx)
                    else:
                        for q, v in lat.items():
                            samples[q].append(v)
                    idx += 1
            finally:
                tracer.restore()
        n_timed = idx - WARM_PASSES - len(traced_idx)
        steal1 = cpu_steal_total()
        rss_mb = engine.jvm_peak_rss_mb()
        session_start_s = engine.start_s
        oracles = engine.oracles
    finally:
        engine.close()

    t_check = time.perf_counter()
    bad = check_outputs(oracles, wl, last_sf, out_dir, cpus)
    check_s = time.perf_counter() - t_check
    failed = len(h.errors) + len(bad)
    pool = [v for vals in samples.values() for v in vals]
    # an empty pool (every query raised in every timed pass) still gives
    # a result line, with failed > 0 and no latency metrics
    tail_v, tail_pct, tail_fallback = stats.tail(pool) if pool else (None, 0.0, True)
    owner = stats.tail_owner(samples, tail_v) if pool else ("-", 0, 0)
    steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    import pyspark

    rows = wl.n_docs
    in_bytes = max(size for _, size in data.files.values())
    run_line = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "cpus_from": cpus_from,
        "driver_mem": f"{mem_mb}m",
        "input_rows": rows,
        "input_bytes": in_bytes,
        "input_row_groups": 1,
        "input_families": wl.families,
        "input_contaminated": wl.contaminated,
        "fresh_shard_per_pass": wl.fresh_shard_per_pass,
        "queries": len(wl.queries),
        "warm_passes": WARM_PASSES,
        "timed_passes": n_timed,
        "traced_passes": len(traced_idx),
        "pass_totals_s": walls,
        "pass_cpu_s": cpu_s,
        "load_1m_at_pass_start": loads,
        "cpu_steal_share_timed": round(steal_share, 4),
        "jvm_peak_rss_mb": round(rss_mb, 1),
        "session_start_s": round(session_start_s, 3),
        "input_gen_s": round(data.gen_s, 3),
        "oracle_check_s": round(check_s, 3),
        "p50_samples": len(pool),
        "tail_percentile": round(tail_pct, 1),
        "tail_samples": len(pool),
        "tail_fallback": tail_fallback,
        "tail_owner": f"{owner[0]} {owner[1]}/{owner[2]}",
        "per_query_median_s": {q: round(statistics.median(v), 4) for q, v in samples.items() if v},
        "errors": h.errors + bad,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }
    result = {
        "correct": failed == 0,
        "attempted": h.attempted,
        "failed": failed,
        "metrics": {},
    }
    if args.trace:
        from layers import layer_metrics

        result["metrics"] = layer_metrics(
            tracer=tracer,
            catalyst=catalyst,
            event_log=event_log,
            harness=h,
            traced_idx=traced_idx,
            plain_walls=plain_walls,
            traced_walls=traced_walls,
            cpus=cpus,
            session_start_s=session_start_s,
            rss_mb=rss_mb,
        )
    else:
        result["metrics"] = {"setup_s": metric(setup_s, "s")}
        if pool:
            result["metrics"].update(
                pass_s=metric(stats.pass_seconds(samples), "s"),
                query_p50_s=metric(statistics.median(pool), "s"),
                query_tail_s=metric(tail_v, "s"),
            )
    return run_line, result


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # run the cleanup in ``finally`` blocks


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isdir(os.path.join(ROOT, "yamr_spark")):
        print(f"yamrbench: no yamr_spark package under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    scratch = os.path.join(ROOT, ".yamrbench_run", f"{wl.name}-{os.getpid()}")
    os.makedirs(scratch)
    try:
        run_line, result = run(args, wl, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:  # another run's scratch is still there
            pass
    print("yamrbench-run " + json.dumps(run_line, sort_keys=True))
    print(json.dumps(result, sort_keys=True), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
