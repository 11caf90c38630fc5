"""Seeded benchmark of the parse → enrich → route → aggregate engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload replay-bulk --seed 1 --seconds 10 --trace 0

Generates the workload's input from ``--seed`` (cached), sets up several
times, then runs timed passes for ``--seconds`` and checks every pass's
output outside the timed region. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
traced run also writes its spans to ``.perfbench_work/trace-<workload>-<seed>.json``.
See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402

SETUP_REPS = 3  # warm set-ups per untraced run; setup_s is their median
WARMUP_PASSES = 1  # checked but untimed passes before measuring (JIT, workers)
# Measured passes per untraced run, even past --seconds. Warm passes keep
# getting faster (see README), so every run measures the same pass positions:
# with --seconds below two passes' time, a run measures exactly passes 2 and 3.
MIN_PASSES = 2
# An untraced run starts no further measured pass that would end more than
# this many seconds after its inputs are ready (the last pass's time as the
# estimate), so a slow host measures one pass instead of overrunning a
# regression check's time limit.
RUN_BUDGET_S = 64
TIME_LIMIT_S = 100  # stop measuring early on a very slow host: a run must end within 180 s
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "3g"
JVM_OPTS = [
    f"-Xms{DRIVER_MEM}",  # a fixed heap: no run-to-run heap resizing
    "-XX:-UseDynamicNumberOfCompilerThreads",  # see procstat: JIT time stays countable
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
]


class Bench:
    """One run: the Spark session, the per-pass bookkeeping and its outcome."""

    def __init__(self, work: str, workload, inputs, seed: int):
        self.work, self.wl, self.seed = work, workload, seed
        self.t_start = time.monotonic()
        self.spark = None
        self.attempted = self.failed = 0
        self.n_out = 0
        from workloads import State, load_truth

        self.st = State(inputs)
        load_truth(self.st, seed)

    # -- session -----------------------------------------------------------

    def start(self, event_log_dir: str | None = None):
        from log_parser_cli_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.driver.memory": DRIVER_MEM,
            "spark.driver.extraJavaOptions": " ".join(JVM_OPTS + [f"-Djava.io.tmpdir={self.work}/tmp"]),
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log_dir else "false",
        }
        if event_log_dir:
            os.makedirs(event_log_dir)
            conf["spark.eventLog.dir"] = "file://" + event_log_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"  # one plain file
        self.spark = get_spark(
            app_name=f"perfbench-{self.wl.name}", cores=CORES, shuffle_partitions=8, extra_conf=conf
        )
        return self.spark

    def close(self) -> None:
        """Stop Spark, end the JVM and wait until every process it started
        (the Python worker daemon and its workers) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        started = set(procstat.descendants()) - {os.getpid()}
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        left = procstat.wait_gone(started)
        if left:
            raise RuntimeError(f"processes still running after shutdown: {sorted(left)}")

    # -- passes ------------------------------------------------------------

    def out_dir(self) -> str:
        self.n_out += 1
        return os.path.join(self.work, "out", f"{self.wl.name}-{os.getpid()}-{self.n_out}")

    def run_pass(self, tracer=None, label: str = "pass") -> dict | None:
        """One timed pass, then its checks; None when it raised or failed."""
        out = self.out_dir()
        self.attempted += 1
        try:
            cpu0, t0 = procstat.sample(), time.perf_counter()
            if tracer is not None:
                with tracer.span(label, pass_id=f"{label}-{self.attempted}"):
                    res = self.wl.run_pass(self.spark, self.st, out, tracer)
            else:
                res = self.wl.run_pass(self.spark, self.st, out)
            res["wall_s"] = time.perf_counter() - t0
            res["cpu"] = procstat.sample() - cpu0
            c = res["cpu"]
            self.log(
                f"pass {self.attempted} {res['wall_s']:.2f}s stolen {c.stolen:.1%} cpu driver"
                f" {c.driver_s:.2f} jvm {c.jvm_s:.2f} py {c.py_s:.2f} jit {c.jit_s:.2f}"
            )
            errs = self.wl.check(self.st, out, res)
        except Exception:
            traceback.print_exc()
            errs = ["pass raised"]
        finally:
            shutil.rmtree(out, ignore_errors=True)
        if errs:
            self.failed += 1
            self.log(f"pass {self.attempted} FAILED: {errs}")
            return None
        return res

    def measure(
        self, seconds: float, tracers=(None,), min_rounds: int = 1, budget_s: float | None = None
    ) -> list[list[dict]]:
        """Rounds of one pass per entry of ``tracers`` (None: untraced)
        until ``seconds`` have elapsed and ``min_rounds`` are done, or until
        the next round would end past ``budget_s`` from the run's start; the
        passes that succeeded, per entry."""
        done: list[list[dict]] = [[] for _ in tracers]
        t0 = time.monotonic()
        rounds = 0
        while True:
            r0 = time.monotonic()
            for passes, tracer in zip(done, tracers):
                res = self.run_pass(tracer)
                if res is not None:
                    passes.append(res)
            rounds += 1
            now = time.monotonic()
            if now - t0 >= seconds and rounds >= min_rounds:
                return done
            if budget_s is not None and now + (now - r0) - self.t_start > budget_s:
                self.log(f"run budget: stopping after {rounds} measured round(s)")
                return done
            if now - self.t_start >= TIME_LIMIT_S:
                return done

    def setup(self, event_log_dir: str | None = None, tracer=None) -> float:
        """Session (re)start, dims load and the frozen mapping where the
        workload uses one; the first set-up of a run also launches the JVM
        and discovers that mapping. Returns its wall time net of steal."""
        (busy0, steal0), t0 = procstat.host(), time.perf_counter()
        self.start(event_log_dir)
        if tracer is not None:
            tracer.bind(self.spark)
        self.wl.setup(self.spark, self.st, tracer)
        busy1, steal1 = procstat.host()
        took = (time.perf_counter() - t0) * (1.0 - procstat.stolen(busy1 - busy0, steal1 - steal0))
        self.log(f"set-up {took:.2f}s net of steal")
        return took

    def warm_up(self) -> None:
        for _ in range(WARMUP_PASSES):
            self.run_pass()

    def log(self, msg: str) -> None:
        print(f"[{time.monotonic() - self.t_start:7.2f}s] {self.wl.name}: {msg}", file=sys.stderr)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(bench: Bench, seconds: float) -> dict:
    bench.setup()  # JVM launch and the mapping's discovery: not in setup_s
    setups = [bench.setup() for _ in range(SETUP_REPS)]
    bench.warm_up()
    (passes,) = bench.measure(seconds, min_rounds=MIN_PASSES, budget_s=RUN_BUDGET_S)
    # wall time net of steal: the pass as it runs on a host of its own
    wall = median([p["wall_s"] * (1.0 - p["cpu"].stolen) for p in passes])
    bench.log(f"raw wall median {median([p['wall_s'] for p in passes]):.3f}s, net of steal {wall:.3f}s")
    return {
        "seq_per_s": {"value": bench.st.inp.rows / wall if wall else 0.0, "unit": "seq/s"},
        "cpu_s": {"value": median([p["cpu"].total_s for p in passes]), "unit": "s"},
        "setup_s": {"value": median(setups), "unit": "s"},
    }


def per_layer(bench: Bench, seconds: float) -> dict:
    """One session with the event log on: traced set-up, untraced and
    traced passes in turn (their wall-time difference is the tracing
    overhead), the labelled layer prefixes, then one more untraced pass.
    Warm passes keep getting faster while the JIT compiler works on, so the
    prefixes are compared with that last pass, the nearest in warmth."""
    from eventlog import EventLog
    from tracing import Tracer

    wl, st = bench.wl, bench.st
    log_dir = os.path.join(bench.work, "eventlog", wl.name)  # the last traced run's
    shutil.rmtree(log_dir, ignore_errors=True)
    tracer = Tracer(sampler=procstat.sample)
    bench.setup(log_dir, tracer)
    bench.warm_up()
    plain, traced = bench.measure(seconds, (None, tracer))
    out = bench.out_dir()
    try:
        counts = wl.layers(bench.spark, st, out, tracer)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    after = bench.run_pass()
    plain += [after] if after is not None else []
    bench.close()  # finishes the event log
    log = EventLog(EventLog.find(log_dir))
    tracer.dump(os.path.join(bench.work, f"trace-{wl.name}-{bench.seed}.json"))
    return layer_metrics(wl, st, plain, traced, tracer, log, counts)


def layer_metrics(wl, st, plain, traced, tracer, log, counts) -> dict:
    from workloads import ReplayBulk, match_stats

    def d(name):  # median duration of a span name, 0 when the layer is bypassed
        return median(tracer.durations(name))

    def windows(name):
        return [log.window(s.start, s.end) for s in tracer.spans if s.name == name]

    def cpu(name, kind):
        return median([getattr(s.cpu, kind) for s in tracer.spans if s.name == name and s.cpu])

    def diff(a, b):
        return d(a) - d(b) if tracer.durations(a) else 0.0

    rows = st.inp.rows
    last = plain[-1] if plain else {}
    wall_plain = median([p["wall_s"] for p in plain])
    wall_traced = median([p["wall_s"] for p in traced])
    enrich_base = "L.ckpt_scan" if tracer.durations("L.ckpt_scan") else "L.parse"
    route_w = windows("L.route")
    pass_w = windows("pass")
    batches = [b for p in plain for b in p.get("batches", [])]
    m = {
        "scan.s": (d("L.scan"), "s"),
        "parse.self_s": (diff("L.parse", "L.scan"), "s"),
        "parse.py_cpu_s": (
            cpu("L.parse", "py_s") - cpu("L.scan", "py_s") if tracer.durations("L.parse") else 0.0,
            "s",
        ),
        "parse.head_matched_frac": (1.0 - last.get("unparsed", 0) / rows, "ratio"),
        "enrich.self_s": (diff("L.enrich", enrich_base), "s"),
        "route.self_s": (diff("L.route", "L.enrich"), "s"),
        "route.shuffle_write_mb": (median([w.shuffle_write_bytes for w in route_w]) / 1e6, "MB"),
        "route.spill_mb": (median([w.spill_bytes for w in route_w]) / 1e6, "MB"),
        "route.file_skew": (last.get("skew", 0.0), "ratio"),
        "routed_files": (last.get("files", 0), "count"),
        "routed_mb": (last.get("bytes", 0) / 1e6, "MB"),
        "snapshot.data_dirs": (last.get("data_dirs", 0), "count"),
        # a pass's own spans first: the stream reads its many-dir snapshot
        "snapshot.read_s": (d("snapshot_read") or d("L.snapshot_read"), "s"),
        "aggregate.s": (d("aggregate") or d("L.aggregate"), "s"),
        "checkpoint.write_s": (diff("L.checkpoint", "L.parse"), "s"),
        "checkpoint.mb": (counts.get("checkpoint.bytes", 0) / 1e6, "MB"),
        "setup.discover_s": (d("setup.discover"), "s"),
        "discover.sigagg_s": (diff("L.discover", "L.drain"), "s"),
        "discover.signatures": (counts.get("discover.signatures", 0), "count"),
        "drain.s": (d("L.drain"), "s"),
        "drain.clusters": (counts.get("drain.clusters", 0), "count"),
        "match.self_s": (diff("L.match", "L.parse"), "s"),
        "spark.jobs": (median([w.jobs for w in pass_w]), "count"),
        "spark.stages": (median([w.stages for w in pass_w]), "count"),
        "spark.tasks": (median([w.tasks for w in pass_w]), "count"),
        "spark.executor_cpu_s": (median([w.executor_cpu_s for w in pass_w]), "s"),
        "spark.gc_s": (median([w.gc_s for w in pass_w]), "s"),
        "cpu.jvm_s": (median([p["cpu"].jvm_s for p in plain]), "s"),
        "cpu.py_s": (median([p["cpu"].py_s for p in plain]), "s"),
        "cpu.jit_s": (median([p["cpu"].jit_s for p in plain]), "s"),
        "trace.overhead_frac": (wall_traced / wall_plain - 1.0 if wall_plain else 0.0, "ratio"),
        "trace.coverage": (sum(d(n) for n in wl.cover) / last["wall_s"] if last else 0.0, "ratio"),
    }
    # micro-batch latency and its phases (stream-microbatch only)
    batch_ms = [b["batchDuration"] for b in batches]
    p90 = statistics.quantiles(batch_ms, n=10)[8] if len(batch_ms) > 1 else median(batch_ms)
    bulk_rate = rows / sum(d(n) for n in ReplayBulk.cover) if batches and d("L.route") else 0.0
    per_batch = getattr(wl, "rows_per_file", 0)
    m["batch_samples"] = (len(batch_ms), "count")
    m["batch_p50_ms"] = (median(batch_ms), "ms")
    m["batch_p90_ms"] = (p90, "ms")
    for phase in ("addBatch", "walCommit", "latestOffset", "commitOffsets"):
        m[f"stream.{phase}_ms"] = (median([b.get(phase, 0) for b in batches]), "ms")
    m["stream.fixed_ms"] = (
        median(batch_ms) - 1000.0 * per_batch / bulk_rate if bulk_rate else 0.0,
        "ms",
    )
    match_counts = last.get("counts") or counts.get("match.counts")
    hit_frac, evals = match_stats(st.library, match_counts) if match_counts else (0.0, 0.0)
    m["match.hit_frac"] = (hit_frac, "ratio")
    m["match.regex_evals_per_row"] = (evals, "count")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    package = os.path.join(root, "log_parser_cli_spark")
    if not os.path.isfile(os.path.join(package, "__init__.py")):
        print(f"no engine sources at {package}: run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    for sub in ("tmp", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONHASHSEED"] = "0"  # the same hashing in every Python worker

    import inputs
    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    inp = inputs.build(work, package, args.seed, wl.rows, wl.stream_files)
    bench = Bench(work, wl, inp, args.seed)
    try:
        metrics = (per_layer if args.trace else end_to_end)(bench, args.seconds)
    finally:
        bench.close()
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
