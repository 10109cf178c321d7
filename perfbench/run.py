"""Benchmark of the kafkastreaming_spark engine.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 16 --trace 0

Drives the engine from outside, the way its users do: one closed-loop
client in one process calls ``queries()[key](spark, sf_dir)`` to build a
key's DataFrame and materializes it in full into the ``noop`` sink, on a
``local[N]`` session where N is the number of cores this process may use.

A run:

1. builds the workload's input tables (``fixtures.py``; cached under
   ``.perfbench/`` in the checkout) and a fresh scratch root that
   ``SPARK_GRAFT_SCRATCH``, ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's
   ``java.io.tmpdir`` point at;
2. starts the session and runs one untimed pass over the workload's keys
   in an order drawn from ``--seed``.  Each key's output is checked once,
   against its DuckDB oracle (``oracle_sql()``), compared with
   ``tools/verify_local.compare``.  ``setup_s`` runs from process start to
   the end of this pass, without the input-table build and the checks;
3. runs timed passes, each in a new order drawn from the seed, until
   ``--seconds`` have passed (finishing the pass under way), and times
   every invocation (query-function call plus materialization);
4. reports the metrics of ``BENCHMARK.json`` as the last line of stdout.
   With ``--trace 0`` these are the end-to-end metrics; with ``--trace 1``
   the per-layer metrics, gathered by ``tracing.py`` after every key, and
   the span tree is written to ``.perfbench/traces/``.

Everything else the process or the JVM would print goes to stderr, so the
result line is the only line on stdout.
"""

from __future__ import annotations

import time

_T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
_MB = 1 / 2**20


def _args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _session_env(scratch: str, cores: int) -> None:
    """Environment read when the JVM starts; must be set before it does."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Python workers import kafkastreaming_spark whatever the launch
    # directory: they inherit this environment from the JVM.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_SCRATCH"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={scratch}/warehouse"),
        "pyspark-shell",
    ])


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total * _MB


class Run:
    def __init__(self, args: argparse.Namespace, keys: list[str], sf_dir: str,
                 fixture_s: float) -> None:
        from kafkastreaming_spark.all import ORACLES, QUERIES

        self.args = args
        self.keys = keys
        self.sf_dir = sf_dir
        self.fixture_s = fixture_s
        self.queries = QUERIES
        self.oracles = ORACLES
        self.rng = random.Random(args.seed)
        self.tracer = None
        self.attempted = 0
        self.failed: dict[str, str] = {}
        self.latencies: list[tuple[str, float]] = []
        self.check_s = 0.0
        self.n_failed = 0
        self._inv = 0

    def _order(self) -> list[str]:
        ks = list(self.keys)
        self.rng.shuffle(ks)
        return ks

    def _invoke(self, key: str):
        """One invocation: the query-function call, then full
        materialization.  Returns (df, t0, t_built, t_done); df is None if
        it raised."""
        self.attempted += 1
        t0 = t1 = time.time()
        try:
            df = self.queries[key](self.spark, self.sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — one key must not end the run
            traceback.print_exc()
            self.n_failed += 1
            self.failed[key] = f"{type(exc).__name__}: {exc}"[:300]
            return None, t0, t1, time.time()
        return df, t0, t1, time.time()

    def _check(self, key: str, df) -> None:
        from tools.verify_local import compare

        try:
            ok, msg = compare(df.toPandas(), self.duck.execute(self.oracles[key]).df())
        except Exception as exc:  # noqa: BLE001
            ok, msg = False, f"{type(exc).__name__}: {exc}"
        if not ok:
            self.n_failed += 1
            self.failed.setdefault(key, f"output mismatch: {msg}"[:300])

    def _pass(self, n: int) -> int:
        """One pass over the keys; pass 0 is the untimed set-up pass, which
        also checks every key's output.  Returns the invocations completed."""
        from kafkastreaming_spark.streaming.harness import release_sinks

        if self.tracer is not None:
            parent = self._setup_span if n == 0 else None
            self._pass_span = self.tracer.span("pass", time.time(), 0.0, parent, passno=n)
        done = 0
        for key in self._order():
            df, t0, t1, t2 = self._invoke(key)
            c0 = c1 = t2
            if df is not None:
                done += 1
                if n == 0:
                    self._check(key, df)
                    c1 = time.time()
                    self.check_s += c1 - c0
                else:
                    self.latencies.append((key, t2 - t0))
            release_sinks(self.spark, keep=2)
            if self.tracer is not None:
                self._trace_key(n, key, t0, t1, t2, c0, c1, df is not None)
        if self.tracer is not None:
            self.tracer.spans[self._pass_span]["end"] = time.time()
        return done

    def _trace_key(self, n: int, key: str, t0: float, t1: float, t2: float,
                   c0: float, c1: float, ok: bool) -> None:
        tr = self.tracer
        self._inv += 1
        k = tr.span("key", t0, t2, self._pass_span, self._inv, key=key, ok=ok)
        b = tr.span("build", t0, t1, k, self._inv)
        a = tr.span("action", t1, t2, k, self._inv)
        window = [self._pass_span, k, b, a]
        if c1 > c0:
            window.append(tr.span("check", c0, c1, self._pass_span, self._inv))
        tr.collect(self._inv, k, b, a, window, timed=n > 0 and ok)

    def execute(self) -> dict:
        import duckdb

        from kafkastreaming_spark.session import get_session
        from tools.verify_local import TABLES

        s0 = time.time()
        self.spark = get_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        s1 = time.time()
        self.duck = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet").replace("'", "''")
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
            self._setup_span = self.tracer.span("setup", _T_PROCESS, _T_PROCESS, None)
            self.tracer.span("session", s0, s1, self._setup_span)
        self._pass(0)
        setup_end = time.time()
        self.setup_s = setup_end - _T_PROCESS - self.fixture_s - self.check_s
        if self.tracer is not None:
            self.tracer.spans[self._setup_span]["end"] = setup_end
        # Let the set-up pass's garbage go before timing starts.
        self.spark._jvm.System.gc()
        self.pass_rates: list[float] = []
        t_begin = time.time()
        while time.time() - t_begin < self.args.seconds:
            p0 = time.time()
            done = self._pass(len(self.pass_rates) + 1)
            self.pass_rates.append(done / (time.time() - p0))
        self.passes = len(self.pass_rates)
        self.storage_mb = self._storage_mb()
        from kafkastreaming_spark import memo

        self.memo_entries = memo.release(self.spark)
        return self._result()

    def _storage_mb(self) -> float:
        sc = self.spark.sparkContext._jsc.sc()
        mem = sc.env().memoryManager().storageMemoryUsed()
        disk = sum(r.diskSize() for r in sc.getRDDStorageInfo())
        return (mem + disk) * _MB

    def _result(self) -> dict:
        lat = sorted(t for _, t in self.latencies)
        return {
            # median over passes: a pass stalled by the host does not set it
            "keys_per_s": statistics.median(self.pass_rates),
            "key_p50_s": statistics.median(lat),
            "key_p80_s": statistics.quantiles(lat, n=5, method="inclusive")[3],
            "storage_mb": self.storage_mb,
            "setup_s": self.setup_s,
            "failed_ratio": self.n_failed / max(self.attempted, 1),
        }

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers)
        to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    sys.path[:0] = [HERE, ROOT]
    args = _args(argv)
    # Keep stdout for the result line alone: the JVM inherits fd 1, and
    # sink_console prints its batches there.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    import fixtures
    from workloads import WORKLOADS, owner
    from kafkastreaming_spark.all import QUERIES

    wl = WORKLOADS[args.workload]
    keys = list(wl.timed)
    strays = [k for k in keys if owner(k, QUERIES[k].__module__) != wl.name]
    if strays:
        raise RuntimeError(f"keys not owned by {wl.name}: {strays}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    f0 = time.time()
    sf_dir = fixtures.ensure(os.path.join(WORK, "fixtures"), wl.sf)
    fixture_s = time.time() - f0
    os.makedirs(os.path.join(WORK, "scratch"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{wl.name}-{args.seed}-",
                               dir=os.path.join(WORK, "scratch"))
    cores = len(os.sched_getaffinity(0))
    _session_env(scratch, cores)

    run = Run(args, keys, sf_dir, fixture_s)
    try:
        metrics = run.execute()
        if run.tracer is not None:
            layer = run.tracer.layer_metrics(run.passes)
            spans, self_s = run.tracer.spans, run.tracer.self_times()
    finally:
        run.stop()
        metrics_scratch = _du_mb(scratch)
        shutil.rmtree(scratch, ignore_errors=True)

    metrics["scratch_mb"] = metrics_scratch
    if run.tracer is not None:
        metrics.update(layer)
        metrics["memo.entries"] = run.memo_entries
        metrics["traced_keys_per_s"] = metrics["keys_per_s"]
    report = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "cpus": cores, "sf": wl.sf, "keys": keys, "passes": run.passes,
        "samples": len(run.latencies), "check_s": run.check_s,
        "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics,
        "latencies": {k: [t for key, t in run.latencies if key == k] for k in keys},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    if run.tracer is not None:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{tag}.json"), "w") as f:
            json.dump({"self_s": self_s, "spans": spans}, f)
    print(json.dumps({k: v for k, v in report.items() if k != "metrics"}), file=sys.stderr)

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    out = {
        "correct": not run.failed,
        "attempted": run.attempted,
        "failed": run.n_failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(out), file=result_out, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
