"""Seeded closed-loop benchmark for cl_data_frame_spark.

Run from the repository root:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 \
        --trace 0

One client runs the workload's passes back to back on
``local[<cores>]`` until ``--seconds`` have elapsed (whole passes only).
Every op is counted; a failed op counts as a missed latency. Outputs are
checked against DuckDB (the registry's ``oracle_sql()``, the local
entries' oracles or a replay of the lakehouse operations). Before the
window, after each op in it and after it, ``bench.py``'s frozen sentinel
query runs in a JVM of its own (see ``Sentinel``); the gated throughput
and latency are given in units of the sentinel readings around each op,
so that the drift in the speed of the shared host cancels. The report
goes to stderr and the last line of stdout is one JSON object: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exit status is 0 only when every op succeeded and every
output matched.

Everything the run writes stays under ``.perfbench_work/`` in the
current directory: inputs, Spark scratch and tables go to a per-process
subdirectory removed at the end; a traced run leaves its spans in
``.perfbench_work/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: free space the run needs on the checkout's filesystem
MIN_FREE_BYTES = 2 << 30
GEN_REPEATS = 3
RSS_PERIOD_S = 0.25
#: layers whose candidate-pair work is reported as pairs out per
#: candidate-join row
CANDIDATE_LAYERS = ("dedup", "similarity")
#: processes left out of the measured process tree (the sentinel's)
UNMEASURED: set[int] = set()
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (inclusive), inf-aware: a failed
    op is an infinite latency."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    if math.isinf(xs[hi]):
        return xs[hi]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Sample:
    kind: str
    name: str
    seconds: float          # inf when the op failed
    pass_id: int
    traced: bool
    cpu_s: float = 0.0      # CPU seconds of the process tree
    #: mean of the sentinel readings just before and just after the op
    #: (nan when the sentinel was not read around it)
    sentinel_s: float = math.nan


def process_tree() -> tuple[int, float]:
    """(resident bytes, CPU seconds including reaped children) of this
    process and all its descendants, except the UNMEASURED ones and
    theirs."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, float]] = {}
    tick = os.sysconf("SC_CLK_TCK")
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(st[1]), []).append(int(d))
        stats[int(d)] = (int(st[21]) * page,
                         sum(int(x) for x in st[11:15]) / tick)
    rss, cpu, todo = 0, 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        r, c = stats.get(pid, (0, 0.0))
        rss, cpu = rss + r, cpu + c
        todo.extend(c for c in children.get(pid, ())
                    if c not in UNMEASURED)
    return rss, cpu


class RssSampler(threading.Thread):
    """Peak resident set of this process and its measured
    descendants."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, process_tree()[0])
            self._halt.wait(RSS_PERIOD_S)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


class Sentinel:
    """``bench.py``'s frozen sentinel query, run by ``sentinel.py`` in a
    JVM of its own on this run's lineitem table.

    The gated throughput and latency are given in units of the readings
    that bracket each op, so that the drift of the shared host cancels.
    Its session is configured by ``sentinel.py`` alone: no change to the
    program's code or session settings reaches it. The constructor
    launches it; its JVM boots and warms up beside the program's set-up,
    and ``wait_ready`` waits for that to finish."""

    def __init__(self, data_dir: str, log_path: str):
        self.readings: list[float] = []
        self._log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sentinel.py"),
             os.path.join(data_dir, "lineitem.parquet")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True)
        UNMEASURED.add(self.proc.pid)

    def _reply(self) -> str:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("the sentinel process ended; see "
                               f"{self._log.name}")
        return line.strip()

    def wait_ready(self) -> None:
        if self._reply() != "ready":
            raise RuntimeError("the sentinel process did not start")

    def read(self) -> None:
        self.proc.stdin.write("run\n")
        self.proc.stdin.flush()
        self.readings.append(float(self._reply()))

    def close(self) -> None:
        """End its input: it stops its session and exits."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass

    def wait(self) -> None:
        """Wait for it (and its JVM) to exit."""
        try:
            self.proc.wait(timeout=90)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self._log.close()


class Harness:
    """Counts every attempt and keeps every sample."""

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.spark = None
        self.samples: list[Sample] = []
        self.attempted = 0
        self.failed = 0
        self.pass_id = 0
        self.traced = False
        self.sentinel: Sentinel | None = None   # read after each op
        # traced runs only
        self.tracer = None
        self.on_op = None       # per-op counter hook
        #: "stage"/"exec" -> [last id before, last id of] the traced window
        self.trace_ids: dict[str, list[int]] = {}
        self.cached_peak = 0
        self.candidates: dict[str, list[int]] = {}

    def timed(self, kind: str, name: str, fn):
        """Run one op; returns its result, or None when it raised. Ops
        run before the first pass (``pass_id`` 0) are the warm-up."""
        self.attempted += 1
        before = self.sentinel.readings[-1] if self.sentinel else None
        hook = self.on_op(name) if self.on_op else None
        c0 = process_tree()[1]
        t0 = time.perf_counter()
        try:
            out = fn()
            dt = time.perf_counter() - t0
        except Exception:
            dt = float("inf")
            out = None
            self.failed += 1
            log(f"{kind} {name} FAILED\n{traceback.format_exc()}")
        cpu = process_tree()[1] - c0
        if hook is not None:
            hook()
        sample = Sample(kind, name, dt, self.pass_id, self.traced, cpu)
        self.samples.append(sample)
        if self.sentinel is not None:
            self.sentinel.read()
            sample.sentinel_s = (before + self.sentinel.readings[-1]) / 2
        return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def configure_env(root: str, work: str) -> None:
    """Size Spark to the box and keep every write under *work*."""
    cores = len(os.sched_getaffinity(0))
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, min(4, mem // (4 << 30)))
    for sub in ("scratch", "tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp",
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "")
                      .split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.local.dir={work}/local",
            f"--conf spark.sql.warehouse.dir={work}/warehouse",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "pyspark-shell"]),
    })


def run_window(h: Harness, wl, seconds: float) -> None:
    """Whole passes until *seconds* have elapsed."""
    t0 = time.perf_counter()
    while True:
        h.pass_id += 1
        try:
            wl.run_pass()
        except Exception:
            h.attempted += 1
            h.failed += 1
            log(f"pass {h.pass_id} FAILED\n{traceback.format_exc()}")
            break
        if time.perf_counter() - t0 >= seconds:
            break


def pass_walls(samples: list[Sample], unit=lambda s: 1.0) -> list[float]:
    """Summed op latency per pass, each op's in units of *unit(op)*."""
    walls: dict[int, float] = {}
    for s in samples:
        walls[s.pass_id] = walls.get(s.pass_id, 0.0) + s.seconds / unit(s)
    return list(walls.values())


def outcome(h: Harness, bad: list[str]) -> dict:
    """Failed ops over attempted ones, and outputs that did not match."""
    return {"fail_ratio": (h.failed / max(h.attempted, 1), "ratio",
                           h.attempted),
            "wrong_results": (len(bad), "count", 1)}


def end_to_end(wl, samples: list[Sample], setup_s: float,
               peak_rss: int) -> dict:
    """(value, unit, sample count) per end-to-end metric.

    Throughput and latency are gated in host-relative form: each op's
    latency is divided by its ``sentinel_s``, the sentinel's wall around
    it. When the host drifts, op and sentinel move together, so the
    ratio keeps the program's own change and drops most of the drift.
    The raw wall figures are reported alongside."""
    lat = [s.seconds for s in samples]
    walls = pass_walls(samples)
    rows_per_s = wl.rows_per_pass / statistics.median(walls)
    rel_walls = pass_walls(samples, lambda s: s.sentinel_s)
    cpu = sum(s.cpu_s for s in samples)
    return {
        "setup_s": (setup_s, "s", 1),
        "rows_per_sentinel": (wl.rows_per_pass
                              / statistics.median(rel_walls), "rows",
                              len(walls)),
        "op_geomean_sentinels": (op_geomean(samples,
                                            lambda s: s.sentinel_s),
                                 "ratio", len(lat)),
        "rows_per_s": (rows_per_s, "rows/s", len(walls)),
        "op_geomean_s": (op_geomean(samples), "s", len(lat)),
        "op_p50_s": (percentile(lat, 0.5), "s", len(lat)),
        "op_p90_s": (percentile(lat, 0.9), "s", len(lat)),
        "cpu_ms_per_row": (1e3 * cpu / (wl.rows_per_pass * len(walls)),
                           "ms", len(walls)),
        "peak_rss_mb": (peak_rss / 2**20, "MB", 1),
    }


def op_geomean(samples: list[Sample], unit=lambda s: 1.0) -> float:
    """Geometric mean over op types of each op's median latency, in
    units of *unit(op)* (the TPC-H power-metric form): no single op type
    dominates it."""
    per_op: dict[str, list[float]] = {}
    for s in samples:
        per_op.setdefault(s.name, []).append(s.seconds / unit(s))
    return geomean([statistics.median(v) for v in per_op.values()])


def geomean(xs: list[float]) -> float:
    if any(math.isinf(x) for x in xs):
        return float("inf")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["analytics", "lakehouse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    missing = [m for m in ("cl_data_frame_spark", "__spark_entry__")
               if importlib.util.find_spec(m) is None]
    if missing:
        log(f"cannot import {missing} from {root}: run from the "
            "repository root")
        return 2
    free = shutil.disk_usage(root).free
    if free < MIN_FREE_BYTES:
        log(f"only {free >> 20} MiB free under {root}")
        return 2
    out_dir = os.path.join(root, ".perfbench_work")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(root, work)

    rss = RssSampler()
    rss.start()
    try:
        return _run(args, out_dir, work, rss)
    finally:
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, out_dir: str, work: str, rss: RssSampler) -> int:
    from workloads import WORKLOADS
    h = Harness(work)
    wl = WORKLOADS[args.workload](h)
    layer = {}

    gens = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(h.data_dir, ignore_errors=True)
        g0 = time.perf_counter()
        rows = wl.generate(args.seed, h.data_dir)
        gens.append(time.perf_counter() - g0)
    layer["inputs.gen_s"] = statistics.median(gens)
    log(f"inputs (seed {args.seed}): {rows}")
    sentinel = Sentinel(h.data_dir, os.path.join(work, "sentinel.log"))
    spark = None
    try:
        t0 = time.perf_counter()
        from cl_data_frame_spark.session import get_spark
        h.spark = spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        layer["session.start_s"] = time.perf_counter() - t0
        w0 = time.perf_counter()
        wl.setup()
        log(f"fixtures in {time.perf_counter() - w0:.1f}s")
        wl.warmup()
        layer["session.warmup_s"] = time.perf_counter() - w0
        setup_s = (layer["session.start_s"] + layer["inputs.gen_s"]
                   + layer["session.warmup_s"])
        log("set up")

        sentinel.wait_ready()
        sentinel.read()
        tracer = None
        if args.trace:
            # untraced, traced, untraced: the untraced windows bracket the
            # traced one, so that passes getting faster as the JVM warms
            # does not read as tracing overhead. The sentinel is read
            # only around the whole window: the gated figures come from
            # untraced runs.
            third = args.seconds / 3
            run_window(h, wl, third)
            counters, tracer = _start_trace(h, wl)
            run_window(h, wl, third)
            tracer.active = False
            h.traced, h.on_op, h.tracer = False, None, None
            wl.trace_stopped()
            h.trace_ids["stage"].append(counters.last_stage_id())
            h.trace_ids["exec"].append(counters.last_execution_id())
            run_window(h, wl, third)
        else:
            h.sentinel = sentinel
            run_window(h, wl, args.seconds)
            h.sentinel = None
        sentinel.read()
        layer["host.sentinel_pre_s"] = sentinel.readings[0]
        layer["host.sentinel_s"] = statistics.median(sentinel.readings)
        layer["host.sentinel_post_s"] = sentinel.readings[-1]
        log("window done; sentinel readings "
            + " ".join(f"{x:.3f}" for x in sentinel.readings))
        c0 = time.perf_counter()
        wl.finish()
        bad = wl.check()
        log(f"outputs checked in {time.perf_counter() - c0:.1f}s")
        for b in bad:
            log(f"WRONG {b}")
        build = getattr(wl, "build_s", None)
        log(f"  op (wall/cpu{'/build' if build else ''} s per pass)")
        for name in dict.fromkeys(s.name for s in h.samples):
            xs = [f"{s.seconds:.2f}/{s.cpu_s:.2f}" + (
                f"/{build.get((s.pass_id, name), 0.0):.2f}" if build
                else "") for s in h.samples if s.name == name]
            log(f"  op {name:<24} {' '.join(xs)}")
        plain = [s for s in h.samples if not s.traced and s.pass_id]
        metrics = end_to_end(wl, plain, setup_s, rss.peak)
        metrics.update(outcome(h, bad))
        metrics.update(wl.extra_metrics(plain))
        _report(args, metrics, layer)
        if tracer is not None:
            out = _trace_metrics(h, wl, counters, tracer, layer, metrics)
            path = os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                json.dump(tracer.dump(), f)
            log(f"{len(tracer.spans)} spans written to {path}")
    finally:
        sentinel.close()
        if spark is not None:
            stop_spark(spark)
        sentinel.wait()

    section = "per_layer" if tracer is not None else "end_to_end"
    if tracer is None:
        out = {k: v[0] for k, v in metrics.items()}
    declared = _declared(section)
    correct = not bad
    print(json.dumps({
        "correct": correct, "attempted": h.attempted, "failed": h.failed,
        "metrics": {m["name"]: {"value": _finite(out.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in declared}}))
    return 0 if correct and h.failed == 0 else 1


def _finite(x: float) -> float:
    """JSON has no infinity: a metric made infinite by failed ops is
    reported as 1e9 (the run also exits non-zero)."""
    return 1e9 if math.isinf(x) or math.isnan(x) else float(x)


def _declared(section: str) -> list[dict]:
    path = os.path.join(HERE, "..", "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)[section]


def _report(args, metrics: dict, layer: dict) -> None:
    log(f"workload={args.workload} seed={args.seed} "
        f"seconds={args.seconds} trace={args.trace}")
    for name, (value, unit, n) in metrics.items():
        log(f"  {name:<18} {value:>14.6g} {unit:<7} n={n}")
    for name, value in layer.items():
        log(f"  {name:<18} {value:>14.6g}")


def _start_trace(h: Harness, wl):
    from sparkstats import SparkCounters
    from spans import Tracer
    counters = SparkCounters(h.spark)
    tracer = Tracer(jobs=counters.jobs_started)
    n = tracer.install()
    h.tracer = tracer
    log(f"tracing {n} callables")
    h.traced = True
    wl.trace_started()
    h.trace_ids = {"stage": [counters.last_stage_id()],
                   "exec": [counters.last_execution_id()]}

    def on_op(name):
        tracer.pass_id = h.pass_id
        tracer.set_op(name)
        before = counters.last_execution_id()
        first_span = len(tracer.spans)

        def done():
            tracer.set_op(None)
            h.cached_peak = max(h.cached_peak, counters.cached_bytes())
            # the op's candidate joins count for each candidate layer
            # that it entered
            fams = {s.layer for s in tracer.spans[first_span:]
                    if s.layer in CANDIDATE_LAYERS}
            if fams:
                j, o = counters.candidate_rows(
                    before, counters.last_execution_id())
                for fam in fams:
                    c = h.candidates.setdefault(fam, [0, 0])
                    c[0] += j
                    c[1] += o
        return done
    h.on_op = on_op
    return counters, tracer


def _trace_metrics(h, wl, counters, tracer, layer, metrics) -> dict:
    from spans import layer_totals
    out = dict(layer)
    for k in ("rows_per_s", "op_geomean_s", "op_p50_s", "op_p90_s",
              "cpu_ms_per_row", "peak_rss_mb", "build_share"):
        if k in metrics:
            out[f"wall.{k}"] = metrics[k][0]
    for name, t in layer_totals(tracer.spans).items():
        for k, v in t.items():
            out[f"{name}.{k}"] = v
    exec_s = sum(d for _, d in counters.executions(*h.trace_ids["exec"]))
    st = counters.stage_totals(*h.trace_ids["stage"])
    out["exec.s"] = exec_s
    for k, v in st.items():
        out[f"exec.{k}"] = v
    out["exec.busy_share"] = st["task_s"] / (exec_s * counters.cores) \
        if exec_s else 0.0
    out["exec.cached_bytes"] = h.cached_peak
    for fam in CANDIDATE_LAYERS:
        j, o = h.candidates.get(fam, (0, 0))
        out[f"{fam}.candidate_ratio"] = o / j if j else 0.0

    # op time per pass, traced against untraced
    traced = [s for s in h.samples if s.traced]
    plain = [s for s in h.samples if not s.traced and s.pass_id]
    per_pass_t = statistics.mean(pass_walls(traced))
    per_pass_p = statistics.mean(pass_walls(plain))
    out["trace.overhead_rows_per_s"] = per_pass_t / per_pass_p - 1
    if "commit_p50_s" in metrics:
        ct = [s.seconds for s in traced if s.kind == "commit"]
        cp = metrics["commit_p50_s"][0]
        out["trace.overhead_commit_p50_s"] = percentile(ct, 0.5) / cp - 1
    out.update(wl.layer_metrics(tracer, {s.pass_id for s in traced}))
    return out


if __name__ == "__main__":
    sys.exit(main())
