"""Customer-360 engine benchmark.

    python3 perfbench/run.py --workload profile_batch --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` inside a run-private
directory, starts one ``local[nproc]`` Spark session through the
program's own ``get_spark``, and drives the public operator surface
(``registry.build()`` ops, called as ``fn(spark, data_dir)``) as a
closed loop with one client. Every op call is timed in two parts: the
call into the op's registered function (``build``) and the
materialisation of the returned frame into the ``noop`` sink (``exec``).

A run has three phases:

1. Set-up (``setup_s``): session start, registry import, a catalog warm
   pass (``api.open_catalog``) and one check pass. The check pass
   materialises every op with ``toPandas`` and compares it with the
   op's DuckDB oracle (row count, sorted schema and order-insensitive
   value hash). Its Spark-side time counts in ``setup_s`` as warm-up,
   the DuckDB side does not; one more untimed ``noop`` pass follows it
   (``WARMUP_PASSES``). The program's on-disk
   caches (multi-file stream sources, lakehouse tables, the ANN index)
   start empty, because every run uses fresh paths, and are built by
   the check pass.
2. Measurement: whole passes over the op list, each in a seeded order,
   until ``--seconds`` have elapsed (at least three passes).
3. Report: the human-readable lines, then one JSON line with the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``, see tracing.py). A traced run alternates untraced and
   traced passes and reports the tracing overhead between them.

Only the checkout is read or written; the run directory, the program's
``.scratch`` entries for this run's inputs and every process the run
started are removed or stopped before it exits.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cortana_intelligence_customer360_spark"
HARD_LIMIT_S = 170  # the whole run, set-up and clean-up included
MIN_PASSES = 3
# Untimed noop passes after the check pass, counted in set-up: JIT
# compilation still speeds up the passes right after the check pass, and
# measured without this pass the run-to-run spread roughly doubled.
WARMUP_PASSES = 1

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from oracle import Oracle, mismatch  # noqa: E402


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_heap_gb() -> int:
    """An eighth of the machine's memory in whole GiB, 1 to 2 (the inputs
    are small). MemTotal, not MemAvailable: memory other processes hold
    changes from run to run, and so would a heap derived from it."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1, min(2, round(kb / 1024 / 1024 / 8)))


def _pct(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method) of at least two values."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class _Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise _Deadline(f"run exceeded {HARD_LIMIT_S} s")


class Bench:
    def __init__(self, wl: workloads.Workload, seed: int, seconds: float, trace: bool,
                 work: str, data_dir: str):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.work, self.data = work, data_dir
        self.cpus, self.heap_gb = _cpus(), _driver_heap_gb()
        self.spark = None
        self.proc = tracing.ProcTree()
        self.parts: dict[str, float] = {}
        self.failures: list[tuple[str, str]] = []
        self.wrong: list[tuple[str, str]] = []
        self.unchecked: list[str] = []
        self.checked = 0
        self.attempted = 0

    # -- set-up ---------------------------------------------------------
    def _timed(self, part: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.parts[part] = self.parts.get(part, 0.0) + time.perf_counter() - t0
        return out

    def _start_session(self):
        from cortana_intelligence_customer360_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # A fixed-size heap, so heap resizing does not move peak RSS;
            # temp files in the run directory and no hsperfdata file in /tmp.
            "spark.driver.extraJavaOptions": (
                f"-Duser.timezone=UTC -Xms{self.heap_gb}g -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "500",
                "spark.ui.retainedStages": "1000",
            })
        return get_spark(
            app_name=f"perfbench-{self.wl.name}",
            cpus=self.cpus,
            driver_memory=f"{self.heap_gb}g",
            extra_conf=conf,
        )

    def _warm_catalog(self) -> None:
        from cortana_intelligence_customer360_spark import api

        api.open_catalog(self.spark, self.data)

    def setup(self) -> None:
        self.spark = self._timed("session.start_s", self._start_session)
        from cortana_intelligence_customer360_spark import registry

        queries, oracle = self._timed("registry.build_s", registry.build)
        missing = [q for q in self.wl.ops if q not in queries]
        if missing:
            raise KeyError(f"ops not in the registry: {missing}")
        self.fns = {q: queries[q] for q in self.wl.ops}
        self.oracle_sql = oracle
        self.package = _declaring_packages(self.wl.ops)
        if self.trace:
            self.stream = tracing.StreamProgress()
            self.spark.streams.addListener(self.stream)
        self._timed("sources.warm_s", self._warm_catalog)
        self.check_pass()
        self._timed("setup.warmup_s", self.warm_up)

    def check_pass(self) -> None:
        """Untimed correctness pass; its Spark side is the warm-up."""
        from cortana_intelligence_customer360_spark.sources.tables import TABLES

        duck = Oracle(self.data, TABLES)
        try:
            for qid in self._order(-1):
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    pdf = self.fns[qid](self.spark, self.data).toPandas()
                except Exception as exc:  # noqa: BLE001 - any op failure is reported
                    self._fail(qid, exc)
                    continue
                finally:
                    self.parts["setup.warmup_s"] = (
                        self.parts.get("setup.warmup_s", 0.0) + time.perf_counter() - t0
                    )
                if qid not in self.oracle_sql:
                    self.unchecked.append(qid)
                    continue
                self.checked += 1
                why = mismatch(pdf, duck.query(self.oracle_sql[qid]))
                if why:
                    self.wrong.append((qid, why))
        finally:
            duck.close()

    def warm_up(self) -> None:
        for i in range(WARMUP_PASSES):
            for qid in self._order(-2 - i):
                self.run_op(qid)

    # -- measurement ----------------------------------------------------
    def _order(self, pass_id: int) -> list[str]:
        ops = list(self.wl.ops)
        random.Random(f"{self.seed}/{pass_id}").shuffle(ops)
        return ops

    def _fail(self, qid: str, exc: BaseException) -> None:
        self.failures.append((qid, f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"))
        for q in self.spark.streams.active:
            q.stop()

    def run_op(self, qid: str) -> dict | None:
        self.attempted += 1
        wall_start, t0 = time.time(), time.perf_counter()
        try:
            df = self.fns[qid](self.spark, self.data)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - any op failure is reported
            self._fail(qid, exc)
            return None
        t2 = time.perf_counter()
        return {"op": qid, "package": self.package[qid], "build_s": t1 - t0,
                "exec_s": t2 - t1, "latency_s": t2 - t0, "wall_start": wall_start}

    def measure(self, deadline: float) -> list[dict]:
        """Whole passes until ``--seconds`` elapse; returns one record per
        pass with its op records."""
        passes: list[dict] = []
        start = time.perf_counter()
        min_passes = MIN_PASSES + 1 if self.trace else MIN_PASSES
        while len(passes) < min_passes or time.perf_counter() - start < self.seconds:
            if passes and time.monotonic() + passes[-1]["wall_s"] * 1.5 > deadline:
                break
            pass_id = len(passes)
            # Untraced/traced in ABBA order, so a warm-up trend cancels.
            traced = self.trace and pass_id % 4 in (1, 2)
            passes.append(self._pass(pass_id, traced))
        return passes

    def _pass(self, pass_id: int, traced: bool) -> dict:
        rec = {"pass": pass_id, "traced": traced, "ops": []}
        if self.trace:
            rec["cpu0"], rec["gc0"] = self.proc.cpu_s(), tracing.jvm_gc_s(self.spark.sparkContext)
        w0, t0 = time.time(), time.perf_counter()
        span = self.tracer.span("pass", w0, None, None, pass_id) if traced else None
        for qid in self._order(pass_id):
            r = self.run_op(qid)
            if r is None:
                continue
            if traced:
                r.update(self.tracer.op_metrics(r["wall_start"], r["wall_start"] + r["latency_s"]))
                self._op_spans(pass_id, span["id"], r)
            rec["ops"].append(r)
        rec["wall_s"] = time.perf_counter() - t0
        rec["window"] = (w0, time.time())
        if self.trace:
            sc = self.spark.sparkContext
            rec["cpu1"], rec["gc1"] = self.proc.cpu_s(), tracing.jvm_gc_s(sc)
            rec["heap_mb"] = tracing.jvm_heap_after_gc_mb(sc)
            rec["cached_mb"] = self.tracer.rest.cached_mb()
            rec["tables"] = len(self.spark.catalog.listTables())
            self.tracer.catch_up()
            if traced:
                span["end"] = rec["window"][1]
        else:
            rec["rss_mb"] = self.proc.peak_rss_mb()
        return rec

    def _op_spans(self, pass_id: int, parent: int, r: dict) -> None:
        a = r["wall_start"]
        sid = self.tracer.span("op", a, a + r["latency_s"], parent, pass_id, op=r["op"],
                               package=r["package"], jobs=r["jobs"])["id"]
        self.tracer.span("build", a, a + r["build_s"], sid, pass_id)
        self.tracer.span("exec", a + r["build_s"], a + r["latency_s"], sid, pass_id)

    # -- results --------------------------------------------------------
    def end_to_end(self, passes: list[dict]) -> dict[str, tuple[float, str]]:
        lat = [r["latency_s"] for p in passes for r in p["ops"]]
        per_op = _latencies_by_op(passes)
        geo = math.exp(statistics.fmean(math.log(statistics.median(v)) for v in per_op.values()))
        setup = sum(self.parts.values())
        return {
            "setup_s": (setup, "s"),
            "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
            "op_geomean_s": (geo, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_p90_s": (_pct(lat, 90), "s"),
            "peak_rss_mb": (max(p["rss_mb"] for p in passes), "MB"),
        }

    def per_layer(self, passes: list[dict]) -> dict[str, tuple[float, str]]:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        out: dict[str, tuple[float, str]] = {}
        pkg = tracing.median_of_passes([tracing.package_totals(p["ops"]) for p in traced])
        for key, v in sorted(pkg.items()):
            out[key] = (v, tracing.PACKAGE_METRICS[key.split(".", 1)[1]])
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        stream = tracing.median_of_passes([
            tracing.stream_summary([b for t, b in self.stream.batches if p["window"][0] <= t <= p["window"][1]])
            for p in traced
        ])
        for m, unit in tracing.STREAM_METRICS.items():
            out[f"streaming.{m}"] = (stream.get(m, 0.0), unit)

        def per_pass(key_fn):
            return statistics.median(key_fn(p) for p in plain)

        out["pyworker.cpu_s"] = (per_pass(lambda p: p["cpu1"]["pyworker"] - p["cpu0"]["pyworker"]), "s")
        out["pydriver.cpu_s"] = (per_pass(lambda p: p["cpu1"]["pydriver"] - p["cpu0"]["pydriver"]), "s")
        out["jvm.cpu_s"] = (per_pass(lambda p: p["cpu1"]["jvm"] - p["cpu0"]["jvm"]), "s")
        out["jvm.gc_s"] = (per_pass(lambda p: p["gc1"] - p["gc0"]), "s")
        last = passes[-1]
        out["jvm.heap_after_pass_mb"] = (last["heap_mb"], "MB")
        out["spark.cached_mb_after_pass"] = (last["cached_mb"], "MB")
        out["spark.catalog_tables_after_pass"] = (last["tables"], "count")
        out["spark.catalog_tables_growth_per_pass"] = (
            (last["tables"] - passes[0]["tables"]) / (len(passes) - 1), "count")
        for part in ("session.start_s", "registry.build_s", "sources.warm_s", "setup.warmup_s"):
            out[part] = (self.parts.get(part, 0.0), "s")
        t_wall = statistics.median(p["wall_s"] for p in traced)
        u_wall = statistics.median(p["wall_s"] for p in plain)
        out["trace.traced_wall_s"] = (t_wall, "s")
        out["trace.untraced_wall_s"] = (u_wall, "s")
        out["trace.overhead_pct"] = (100.0 * (t_wall - u_wall) / u_wall, "%")
        return out

    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            _reap_descendants()


def _latencies_by_op(passes: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for p in passes:
        for r in p["ops"]:
            out.setdefault(r["op"], []).append(r["latency_s"])
    return out


def _declaring_packages(ops) -> dict[str, str]:
    """Package (``operators``, ``features``, ...) of the registry module
    whose ``QUERIES`` declares each op."""
    out = {}
    for name, mod in list(sys.modules.items()):
        if name.startswith(PACKAGE + ".") and isinstance(getattr(mod, "QUERIES", None), dict):
            for q in ops:
                if q in mod.QUERIES:
                    out[q] = name.split(".")[1]
    return out


def _reap_descendants(timeout: float = 20.0) -> None:
    tree = tracing.ProcTree()
    end = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = tree.descendants()
        if not left:
            return
        if time.monotonic() > end:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + 5
        time.sleep(0.1)


def _report(b: Bench, metrics: dict, passes: list[dict]) -> None:
    wl = b.wl
    n_lat = sum(len(p["ops"]) for p in passes)
    print(f"perfbench workload={wl.name} seed={b.seed} trace={int(b.trace)} "
          f"session=local[{b.cpus}] driver_heap={b.heap_gb}g "
          f"C360_STREAM_STATE_PARTITIONS={os.environ.get('C360_STREAM_STATE_PARTITIONS', 'unset (program default)')}")
    print(f"  closed loop, 1 client, {len(wl.ops)} ops, {len(passes)} measured passes, "
          f"{n_lat} op samples; inputs sf={wl.sf} docs={wl.n_docs} embeddings={wl.n_emb}")
    print("  setup parts: " + ", ".join(f"{k} {v:.3f} s" for k, v in b.parts.items()))
    print("  op median s: " + ", ".join(
        f"{q} {statistics.median(v):.3f}" for q, v in sorted(_latencies_by_op(passes).items())))
    print("  pass wall_s: " + " ".join(f"{p['wall_s']:.3f}{'T' if p['traced'] else ''}" for p in passes))
    for name, (v, unit) in metrics.items():
        print(f"  {name} {v:.6g} {unit}")
    print(f"  failed_ops {len(b.failures)} of {b.attempted} attempted")
    print(f"  wrong_results {len(b.wrong)} of {b.checked} checked"
          + (f" (no oracle: {', '.join(sorted(b.unchecked))})" if b.unchecked else ""))
    for qid, why in b.failures + b.wrong:
        print(f"  FAIL {qid}: {why}")
    for qid, why in wl.excluded.items():
        print(f"  excluded {qid}: {why}")


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"perfbench: the program ({PACKAGE}) is not in {ROOT}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    run_id = f"{wl.name}-s{args.seed}-p{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    tag = f"perfbench_{run_id}"
    data_dir = os.path.join(work, tag)
    for d in ("spark-local", "tmp", "ann-cache"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_ANN_CACHE": os.path.join(work, "ann-cache"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(0, ROOT)
    deadline = time.monotonic() + HARD_LIMIT_S - 25
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(HARD_LIMIT_S - 15)
    bench = Bench(wl, args.seed, args.seconds, bool(args.trace), work, data_dir)
    try:
        datagen.write(data_dir, args.seed, wl.sf, wl.n_docs, wl.n_emb)
        bench.setup()
        if bench.trace:
            bench.tracer = tracing.Tracer(tracing.SparkRest(bench.spark.sparkContext), wl.name)
        passes = bench.measure(deadline)
        metrics = bench.per_layer(passes) if bench.trace else bench.end_to_end(passes)
        if bench.trace:
            bench.tracer.write(os.path.join(HERE, ".traces", f"{run_id}.jsonl"))
    finally:
        signal.alarm(0)
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            for d in glob.glob(os.path.join(ROOT, ".scratch", f"*_{tag}")):
                shutil.rmtree(d, ignore_errors=True)
            for d in (os.path.join(ROOT, ".scratch"), os.path.dirname(work)):
                try:
                    os.rmdir(d)  # only if this run left it empty
                except OSError:
                    pass
    _report(bench, metrics, passes)
    result = {
        "correct": not bench.wrong and not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
