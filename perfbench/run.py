"""Seeded end-to-end benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` (cached under ``.tmp/perfbench/data``), starts one local
session on all cores, runs one warm-up pass that also checks every op's
output against its DuckDB oracle, then runs timed passes back to back
(a closed loop with one client) until ``--seconds`` of pass time have
elapsed, and at least two of them. The human-readable lines before
the result also give ``failed_frac`` with the failing ops and causes.

With ``--trace 0`` the last stdout line reports the end-to-end metrics;
with ``--trace 1`` it reports the per-layer metrics of the same
workload, read from Spark's REST API, a StreamingQueryListener and
``/proc`` around every op, and the spans go to ``.tmp/perfbench/traces``.
Passes of a traced run alternate untraced and traced, and the ratio of
their median wall times is the tracing overhead.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import time

import check
import observe
import workloads

PKG = "ecommerce_dataengineering_project_spark"
# At least two timed passes: a traced run alternates untraced and traced
# passes. With a --seconds below two passes' time every run has the same
# sample count, so op_tail_s keeps its percentile when a change makes
# passes faster or the host makes them slower.
MIN_PASSES = 2
# End-to-end metrics on the result line, the ones BENCHMARK.json bounds.
# rows_per_s, op_p50_s and op_tail_s move 20-40% between runs of the same
# code on a shared 4-vCPU VM (op_tail_s is the slowest of <=20 ops), more
# than any bound can absorb, so they are printed but not gated; CPU
# seconds, set-up time and memory are what regressions are judged by.
GATED = ("setup_s", "cpu_s", "peak_rss_mb")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail_percentile(samples: list[float]) -> tuple[int, float]:
    """The highest whole percentile (nearest rank) with at least ten
    samples above it, and its value. Where no percentile above the
    median has ten samples beyond it, the slowest op (p100) stands in."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 50, -1):
        rank = -(-p * n // 100)  # ceil(p * n / 100), 1-based
        if n - rank >= 10:
            return p, xs[rank - 1]
    return 100, xs[-1]


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Bench:
    """Runs ops and keeps everything measured about them."""

    def __init__(self, args, root: str):
        self.trace = bool(args.trace)
        self.root = root
        self.work = os.path.join(root, ".tmp", "perfbench")
        self.run_id = f"s{args.seed}w{os.getpid()}"
        self.run_dir = os.path.join(self.work, "runs", self.run_id)
        self.gen_s = 0.0
        self.traced_pass = False
        self.timed = False
        self.pass_idx = -1
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.samples: list[float] = []
        self.op_times: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.check_s = 0.0
        self._duck: dict[str, object] = {}

    # ------------------------------------------------------------ session
    def start_session(self) -> None:
        from ecommerce_dataengineering_project_spark import get_spark

        nproc = len(os.sched_getaffinity(0))
        local = os.path.join(self.work, "spark-local")
        jtmp = os.path.join(self.work, "jvm-tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(jtmp, exist_ok=True)
        self.spark = get_spark(
            master=f"local[{nproc}]",
            extra_conf={
                "spark.local.dir": local,
                # C1-only JIT settles within the warm-up pass instead of
                # drifting through the short timed window, and a fixed
                # initial heap stops GC-timed heap growth from moving RSS
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -Xms2g"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_proc = self.sc._gateway.proc
        self.proc = observe.ProcTree(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.proc.start_sampling()
        from ecommerce_dataengineering_project_spark.queries import registry

        self.queries, self.oracles = registry()
        if self.trace:
            self.tracer = observe.Tracer()
            self.rest = observe.SparkRest(self.sc)
            self.listener = observe.StreamListener(self.tracer)
            self.spark.streams.addListener(self.listener)

    def stop_session(self) -> None:
        self.proc.stop_sampling()
        self.spark.stop()
        self.sc._gateway.shutdown()
        self.jvm_proc.stdin.close()  # the JVM exits when its stdin closes
        self.jvm_proc.wait(timeout=60)

    # ---------------------------------------------------------------- ops
    def fail(self, op: str, cause: str) -> None:
        self.failures.append((op, cause))

    def query_op(self, name: str, sf_dir: str, verify: bool, layer_timer: str | None = None) -> None:
        fn = self.queries[name]
        mat = (lambda df: self.verify(name, df, name, sf_dir)) if verify else None
        self.op(name, lambda: fn(self.spark, sf_dir), layer_timer=layer_timer, materialize=mat)

    def op(self, name: str, build, layer_timer: str | None = None, materialize=None,
           layer: str = "op") -> BaseException | None:
        """One op: ``build()`` returns a DataFrame (or None), which is
        then materialized with a ``noop`` write, or by ``materialize``
        in the checking warm-up pass. A query op's span has ``build``
        (queries layer) and ``exec`` (Spark layer) children."""
        traced = self.traced_pass
        split = layer == "op"
        if traced:
            group = f"pb{self.pass_idx}/{name}"
            self.sc.setJobGroup(group, name)
            op_span = self.tracer.open(name, layer)
            span = self.tracer.open("build", "queries") if split else None
            cpu0 = self.proc.cpu()
        self.attempted += 1
        err = None
        t0 = time.time()
        t1 = None
        try:
            df = build()
            t1 = time.time()
            if traced and split:
                self.tracer.close(span)
                span = self.tracer.open("exec", "spark")
            if df is not None:
                if materialize is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    materialize(df)
        except Exception as exc:  # an op failure is a result, not a harness error
            err = exc
        t2 = time.time()
        t1 = t2 if t1 is None else t1
        if err is not None:
            first = (str(err).strip().splitlines() or [""])[0][:300]
            self.fail(name, f"{type(err).__name__}: {first}")
        if self.timed:
            self.samples.append(t2 - t0)
            self.op_times.setdefault(name, []).append(t2 - t0)
        if traced:
            if span is not None:
                self.tracer.close(span)
            self.tracer.close(op_span)
            if split:
                self._add("queries.build_s", t1 - t0)
                self._add("queries.exec_s", t2 - t1)
            if layer_timer:
                self._add(layer_timer, t2 - t0)
            self._collect(group, t0, t2, op_span, cpu0)
        return err

    def wrap_task(self, task_id: str, fn, layer_timer: str):
        """A DAG task body that sets its job group and timer inside the
        function: ``DagRun`` runs timed tasks on a worker thread, which a
        job group set on the calling thread does not reach."""

        def run():
            def build():
                fn()
                return None

            err = self.op(task_id, build, layer_timer=layer_timer, layer="plans")
            if err is not None:
                raise err

        return run

    # ----------------------------------------------------------- checking
    def duck(self, sf_dir: str):
        import oracle_harness

        if sf_dir not in self._duck:
            self._duck[sf_dir] = oracle_harness.duck_connection(sf_dir)
        return self._duck[sf_dir]

    def verify(self, op: str, df, oracle: str, sf_dir: str) -> None:
        import oracle_harness

        got = df.toArrow()
        t0 = time.time()
        rel = self.duck(sf_dir).sql(self.oracles[oracle])
        errors = oracle_harness.dtype_errors(df, rel) or check.compare(got, rel.arrow())
        self.check_s += time.time() - t0
        self.expect(op, not errors, f"oracle {oracle} mismatch: {'; '.join(errors[:3])}")

    def expect(self, op: str, ok: bool, cause: str) -> None:
        """One output check; a failed one counts against ``op``."""
        self.attempted += 1
        if not ok:
            self.fail(op, cause)

    # ------------------------------------------------------------ tracing
    def _add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def _collect(self, group: str, t0: float, t2: float, op_span: int, cpu0: dict) -> None:
        run_ids = self.listener.started_since(t0)
        for rid in self.listener.wait_terminated(run_ids):
            self.fail(group, f"streaming query {rid} sent no terminated event")
        cpu1 = self.proc.cpu()
        m = self.rest.collect({group, *run_ids})
        for k, v in m.items():
            self._add(k, v)
        self._add("driver.py_cpu_s", cpu1["driver"] - cpu0["driver"])
        self._add("driver.jvm_cpu_s", cpu1["jvm"] - cpu0["jvm"] - m["spark.executor_cpu_s"])
        self._add("arrow.worker_cpu_s", cpu1["workers"] - cpu0["workers"])
        trigger_s = 0.0
        for rid in run_ids:
            q = self.listener.queries[rid]
            q_span = self.tracer.add(
                q["name"] or "stream", "streaming", q["started"], q.get("ended", t2),
                q["parent"] if q["parent"] is not None else op_span,
            )
            self._add("streaming.queries", 1)
            last_ops = []
            for p in q["progress"]:
                d = p.get("durationMs", {})
                start = _epoch(p["timestamp"])
                trig = d.get("triggerExecution", 0) / 1e3
                trigger_s += trig
                self.tracer.add(f"batch {p['batchId']}", "microbatch", start, start + trig, q_span)
                self._add("streaming.batches", 1)
                self._add("streaming.input_rows", p.get("numInputRows", 0))
                for key, dk in STREAM_DURATIONS.items():
                    self._add(key, d.get(dk, 0))
                for so in p.get("stateOperators", []):
                    self._add("streaming.state_commit_ms", so.get("commitTimeMs", 0))
                    self._add("streaming.state_rows_updated", so.get("numRowsUpdated", 0))
                    self._add("streaming.state_rows_removed", so.get("numRowsRemoved", 0))
                    self._add("streaming.late_rows_dropped", so.get("numRowsDroppedByWatermark", 0))
                last_ops = p.get("stateOperators", []) or last_ops
            for so in last_ops:
                self._add("streaming.state_rows", so.get("numRowsTotal", 0))
                self._add("streaming.state_memory_bytes", so.get("memoryUsedBytes", 0))
        if run_ids:
            self._add("streaming.outside_batch_s", (t2 - t0) - trigger_s)

    def files_written_since(self, t0: float) -> int:
        n = 0
        for dirpath, _, files in os.walk(os.path.join(self.root, ".tmp")):
            for f in files:
                try:
                    if os.stat(os.path.join(dirpath, f)).st_mtime >= t0:
                        n += 1
                except OSError:
                    pass
        return n


STREAM_DURATIONS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.get_batch_ms": "getBatch",
}
SELF_LAYERS = ["pass", "op", "queries", "spark", "plans", "streaming", "microbatch"]


def per_layer_names(all_ops: list[str]) -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    def unit(key: str) -> str:
        return "s" if key.endswith("_s") else "bytes" if "bytes" in key else "count"

    names = [(k, unit(k)) for k in observe.SPARK_KEYS + observe.ARROW_KEYS]
    names[names.index(("arrow.rows_from_python", "count"))] = ("arrow.rows_from_python", "rows")
    names += [
        ("sources.files_written", "count"), ("sources.write_amp", "ratio"), ("sources.merge_s", "s"),
        ("queries.build_s", "s"), ("queries.exec_s", "s"),
        ("driver.py_cpu_s", "s"), ("driver.jvm_cpu_s", "s"), ("arrow.worker_cpu_s", "s"),
        ("streaming.queries", "count"), ("streaming.batches", "count"),
        ("streaming.rows_per_batch", "rows"),
    ]
    names += [(k, "ms") for k in STREAM_DURATIONS]
    names += [
        ("streaming.state_commit_ms", "ms"), ("streaming.outside_batch_s", "s"),
        ("streaming.state_rows", "rows"), ("streaming.state_memory_bytes", "bytes"),
        ("streaming.state_rows_updated", "rows"), ("streaming.state_rows_removed", "rows"),
        ("streaming.late_rows_dropped", "rows"),
        ("plans.produce_s", "s"), ("plans.stream_s", "s"), ("plans.promote_s", "s"),
        ("plans.transform_s", "s"), ("plans.anomaly_s", "s"),
    ]
    names += [(f"self.{layer}_s", "s") for layer in SELF_LAYERS]
    names += [("trace.overhead_frac", "ratio")]
    names += [(f"op.{op}.s", "s") for op in all_ops]
    return names


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")) or not os.path.isfile(
        os.path.join(root, "tests", "oracle_harness.py")
    ):
        print(f"error: run from the root of a checkout holding {PKG}/ and tests/", file=sys.stderr)
        return 2
    # every file the run writes stays inside the checkout
    tmp = os.path.join(root, ".tmp", "perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    sys.path[:0] = [root, os.path.join(root, "tests")]
    # Spark's Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))

    proc_start = observe.process_start_epoch()
    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    bench = Bench(args, root)
    wl = workloads.WORKLOADS[args.workload](bench, args.seed)

    bench.start_session()
    if bench.trace:
        run_span = bench.tracer.open(f"run {wl.name} seed {args.seed}", "run")
    # warm-up pass: fills caches and stages stream sources, and checks
    # every op's output against its oracle
    wl.prepare_pass(0)
    bench.pass_idx = 0
    wl.run_pass(0, verify=True)
    t_first = time.time()
    setup_s = t_first - proc_start - bench.gen_s - bench.check_s

    bench.timed = True
    passes: list[dict] = []
    measured = 0.0
    p = 1
    while measured < args.seconds or len(passes) < MIN_PASSES:
        wl.prepare_pass(p)
        bench.pass_idx = p
        bench.traced_pass = bench.trace and p % 2 == 0
        if bench.traced_pass:
            pass_span = bench.tracer.open(f"pass {p}", "pass")
        cpu0 = bench.proc.cpu()
        t0 = time.time()
        wl.run_pass(p, verify=False)
        wall = time.time() - t0
        cpu1 = bench.proc.cpu()
        if bench.traced_pass:
            bench.tracer.close(pass_span)
            bench._add("sources.files_written", bench.files_written_since(t0))
        passes.append({"wall": wall, "cpu": sum(cpu1.values()) - sum(cpu0.values()),
                       "rows": wl.pass_rows(), "traced": bench.traced_pass})
        measured += wall
        p += 1
    bench.timed = False
    bench.traced_pass = False
    wl.check()
    wl.cleanup()
    bench.stop_session()
    shutil.rmtree(bench.run_dir, ignore_errors=True)

    plain = [x for x in passes if not x["traced"]]
    traced = [x for x in passes if x["traced"]]
    pct, tail = tail_percentile(bench.samples)
    failed = len(bench.failures)
    e2e = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (statistics.median(x["rows"] / x["wall"] for x in plain), "rows/s"),
        "op_p50_s": (statistics.median(bench.samples), "s"),
        "op_tail_s": (tail, "s"),
        "cpu_s": (statistics.median(x["cpu"] for x in plain), "s"),
        "peak_rss_mb": (bench.proc.peak_rss / 2**20, "MB"),
        "failed_frac": (failed / max(1, bench.attempted), "ratio"),
    }
    print(f"workload={wl.name} seed={args.seed} scale={wl.scale} passes={len(passes)} "
          f"ops={len(bench.samples)} op_tail=p{pct} of n={len(bench.samples)} "
          f"gen_s={bench.gen_s:.3f} check_s={bench.check_s:.3f} why: {wl.why}")
    for name, (value, unit) in e2e.items():
        print(f"  {name:12s} {value:14.4f} {unit}")
    print("  passes (wall s, cpu s): " + ", ".join(f"({x['wall']:.3f}, {x['cpu']:.2f})" for x in passes))
    print("  op medians: " + ", ".join(
        f"{op}={statistics.median(ts):.3f}" for op, ts in bench.op_times.items()))
    for op, cause in bench.failures:
        print(f"  FAILED {op}: {cause}")

    if bench.trace:
        bench.tracer.close(run_span)
        n = max(1, len(traced))
        layer = {k: v / n for k, v in bench.layer.items()}
        batches = layer.get("streaming.batches", 0)
        layer["streaming.rows_per_batch"] = layer.pop("streaming.input_rows", 0) / batches if batches else 0
        inp = layer.get("spark.input_bytes", 0)
        layer["sources.write_amp"] = layer.get("spark.output_bytes", 0) / inp if inp else 0
        for lname, secs in bench.tracer.self_time().items():
            layer[f"self.{lname}_s"] = secs / n
        layer["trace.overhead_frac"] = (
            statistics.median(x["wall"] for x in traced) / statistics.median(x["wall"] for x in plain) - 1
            if traced and plain else 0.0
        )
        for op, ts in bench.op_times.items():
            layer[f"op.{op}.s"] = statistics.median(ts)
        all_ops = [o for w in workloads.WORKLOADS.values() for o in w.ops]
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in per_layer_names(all_ops)}
        trace_dir = os.path.join(bench.work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        out = os.path.join(trace_dir, f"{wl.name}-seed{args.seed}.json")
        with open(out, "w") as fh:
            json.dump({"workload": wl.name, "seed": args.seed, "spans": bench.tracer.spans}, fh)
        print(f"  spans: {len(bench.tracer.spans)} written to {os.path.relpath(out, root)}")
        print(f"  tracing overhead: {layer['trace.overhead_frac']:+.3f} of untraced pass time")
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in GATED}
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
