"""Benchmark command for lakehouse_spark.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout. One process, one client thread, closed
loop (the next operation starts when the previous one has finished), Spark
on ``local[<cores>]``. Inputs are generated from ``--seed`` inside a work
directory under the checkout, which is removed at the end.

``--trace 0`` measures with no instrumentation and reports the end-to-end
metrics. ``--trace 1`` alternates each operation label's runs between
untraced and traced (spans around every layer's public functions, see
``tracer.py``) and reports the per-layer metrics plus the tracing overhead,
traced minus untraced.

Human-readable ``name = value unit`` lines come first; the last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. A full record (host fingerprint, every metric, per-op-kind
breakdown, spans when traced) goes to ``perfbench/records/``. The exit code
is non-zero when any result was wrong or any operation failed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

from tracer import NullTracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 5
NULL = NullTracer()


def declared_units() -> dict[str, str]:
    """Unit of every metric BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for sec in ("end_to_end", "per_layer") for m in bench[sec]}


def declared_metrics(section: str) -> list[str]:
    """Metric names BENCHMARK.json declares in ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [x["name"] for x in json.load(f)[section]]


@dataclass
class Sample:
    label: str
    kind: str
    latency: float
    error: str | None


def pct(values: list[float], p: int) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A sixteenth of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(4096, total_kb // 1024 // 16))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a noisy-neighbour reading for the record, not a metric."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def host_probe_s() -> float:
    """Median time of a fixed pure-Python loop: the speed one core of the
    host gives right now, which a loaded host lowers even when steal reads
    near zero. For the record, not a metric."""
    times = []
    for _ in range(9):
        t = time.perf_counter()
        x = 0
        for i in range(400_000):
            x += i * i % 7
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # an exported tree, not a clone
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def prepare_env(work: str) -> None:
    """Environment the JVM and the Python workers inherit."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(paths),
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        TZ="UTC",
        OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1", MKL_NUM_THREADS="1",
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work: str):
    from lakehouse_spark.session import get_spark

    mem = f"{driver_memory_mb()}m"
    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        shuffle_partitions=cores(),
        extra_conf={
            "spark.driver.memory": mem,
            # no hsperfdata file under /tmp: the run writes only in its work dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.enabled": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # the JVM may be gone already; still reap it below
        traceback.print_exc(file=sys.stderr)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fingerprint(spark) -> dict:
    sc = spark.sparkContext
    with open("/proc/cpuinfo") as f:
        model = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
    return {
        "host": platform.node(),
        "cpu_model": model,
        "nproc": cores(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark_version": spark.version,
        "python_version": platform.python_version(),
        "git_commit": git_commit(),
    }


def run_op(op, tracer) -> Sample:
    """Time one operation, then check its result outside the timer."""
    with tracer.op(op.label):
        t = time.perf_counter()
        try:
            res, err = op.run(tracer), None
        except Exception as e:  # an op failure is a result, not a crash
            res, err = None, f"{op.label}: {type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        lat = time.perf_counter() - t
    if err is None:
        try:
            err = op.check(res)
        except Exception as e:
            err = f"{op.label} check: {type(e).__name__}: {e}"
    if err:
        print(f"FAILED {err}", file=sys.stderr)
    return Sample(op.label, op.kind, lat, err)


def run_decks(wl, seconds: float, run_one, min_decks: int = 1) -> None:
    """Run whole decks from deck 1 until ``seconds`` have passed and at
    least ``min_decks`` have run, handing each operation to ``run_one``."""
    t0, k = time.perf_counter(), 1
    while True:
        for op in wl.deck(k):
            run_one(op)
        if k >= min_decks and time.perf_counter() - t0 >= seconds:
            return
        k += 1


def warm_up(wl, samples: list[Sample]) -> None:
    """The untimed warm-up deck: the first use of each code path (JIT, code
    generation, Python workers) happens here, not in the measured decks."""
    samples.extend(run_op(op, NULL) for op in wl.deck(0, warm=True))


def latency_metrics(samples: list[Sample]) -> dict[str, float]:
    lat = [s.latency for s in samples]
    w = [s.latency for s in samples if s.kind == "write"]
    r = [s.latency for s in samples if s.kind == "read"]
    return {
        "latency_p50_s": pct(lat, 50),
        "latency_p90_s": pct(lat, 90),
        "write_latency_p50_s": pct(w, 50),
        "write_latency_p90_s": pct(w, 90),
        "read_latency_p50_s": pct(r, 50),
    }


def written_since(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    return {p: n for p, n in after.items() if before.get(p) != n}


class Interleaved:
    """``--trace 1``: each operation label's runs alternate between untraced
    and traced, the first one traced for every other label. Both halves see
    the same mix of operations on the same JVM, so traced minus untraced is
    the tracer's cost. Spans are installed around a traced operation only."""

    def __init__(self, spark, labels: list[str], lake_root: str | None):
        from tracer import Tracer

        self.tracer = Tracer(spark)
        self.lake_root = lake_root
        self.rank = {lab: i for i, lab in enumerate(sorted(labels))}
        self.runs: dict[str, int] = {}
        self.untraced: list[Sample] = []
        self.traced: list[Sample] = []
        # per traced write: bytes and manifest bytes it left under the lake root
        self.per_write: list[tuple[int, int]] = []

    def traced_next(self, label: str) -> bool:
        n = self.runs.get(label, 0)
        self.runs[label] = n + 1
        return (n + self.rank.get(label, 0)) % 2 == 1

    def __call__(self, op) -> None:
        import workloads

        if not self.traced_next(op.label):
            self.untraced.append(run_op(op, NULL))
            return
        sized = self.lake_root is not None and op.kind == "write"
        if sized:
            before = workloads.dir_sizes(self.lake_root)
        self.tracer.install()
        try:
            self.traced.append(run_op(op, self.tracer))
        finally:
            self.tracer.uninstall()
        if sized:
            new = written_since(before, workloads.dir_sizes(self.lake_root))
            meta = sum(n for p, n in new.items() if workloads.is_metadata(self.lake_root, p))
            self.per_write.append((sum(new.values()), meta))

    def overhead(self) -> tuple[float, float]:
        """Over the labels run both ways, the median of (mean traced minus
        mean untraced latency), and the median of that difference as a
        share of the untraced mean. Medians, because one slow run of a
        label outweighs the tracer's cost."""
        diffs, ratios = [], []
        for lab in {s.label for s in self.traced} & {s.label for s in self.untraced}:
            t = statistics.fmean(s.latency for s in self.traced if s.label == lab)
            u = statistics.fmean(s.latency for s in self.untraced if s.label == lab)
            diffs.append(t - u)
            ratios.append(t / u - 1)
        if not diffs:
            return 0.0, 0.0
        return statistics.median(diffs), statistics.median(ratios)


def write_record(args, record: dict) -> str:
    rec_dir = os.path.join(HERE, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    return path


def bench(spark, args, work: str) -> int:
    import workloads
    from tracer import layer_metrics

    classes = {c.name: c for c in (workloads.Analytics, workloads.SessionApi,
                                   workloads.IngestMutate)}
    fp = fingerprint(spark)
    print("fingerprint " + json.dumps(fp, sort_keys=True))
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def lap(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    wl = classes[args.workload](spark, work, args.seed)
    wl.generate()
    lap("generate")
    # set-up 0 is the state the operations run against; its time is
    # cold-JVM time, so setup_s comes from repeats after the run
    wl.use(wl.setup(0)())
    lap("setup")
    warm: list[Sample] = []
    warm_up(wl, warm)
    lap("warm")

    lake_root = getattr(wl, "lake_root", None)
    if lake_root:
        before = workloads.dir_sizes(lake_root)
        submitted_before = wl.submitted_bytes
    probe = [host_probe_s()]
    cpu0 = cpu_times()
    if args.trace:
        mixed = Interleaved(spark, [s.label for s in warm], lake_root)
        # two decks at least, so every label runs both ways
        run_decks(wl, args.seconds, mixed, min_decks=2)
        timed, traced = mixed.untraced, mixed.traced
    else:
        timed, traced = [], []
        run_decks(wl, args.seconds, lambda op: timed.append(run_op(op, NULL)))
    steal = steal_ratio(cpu0, cpu_times())
    lap("measure")
    probe.append(host_probe_s())

    errors = [s.error for s in warm + timed + traced if s.error]
    try:
        errors += wl.final_check()
    except Exception as e:
        errors.append(f"final check: {type(e).__name__}: {e}")
    lap("final_check")
    setups = []
    for i in range(1, SETUP_REPEATS + 1):
        timed_setup = wl.setup(i)
        t = time.perf_counter()
        timed_setup()
        setups.append(time.perf_counter() - t)
    lap("setup_repeats")

    attempted = len(warm) + len(timed) + len(traced)
    m = latency_metrics(timed)
    m["setup_s"] = statistics.median(setups)
    # closed loop, one client: operations per second of operation time
    m["ops_per_s"] = len(timed) / sum(s.latency for s in timed)
    m["failed_ratio"] = len(errors) / attempted
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    rss = {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb("self")}
    m["peak_rss_mb"] = rss["jvm"] + rss["python"]
    per_label: dict = {}
    if args.trace:
        tracer = mixed.tracer
        layers, per_label = layer_metrics(tracer, spark.sparkContext.defaultParallelism)
        m.update(layers)
        m["trace.overhead_s"], m["trace.overhead_ratio"] = mixed.overhead()
        per_write = mixed.per_write
        n_w = max(1, len(per_write))
        m["mutation.bytes_written"] = sum(b for b, _ in per_write) / n_w
        m["mutation.manifest_bytes_written"] = sum(b for _, b in per_write) / n_w
        m.update(dict.fromkeys(("write_amp", "space_amp", "mutation.segments_live",
                                "streaming.replays_skipped_ratio"), 0.0))
        if lake_root:
            written = sum(written_since(before, workloads.dir_sizes(lake_root)).values())
            m.update(wl.space_metrics(written, wl.submitted_bytes - submitted_before))

    units = declared_units()
    for n in sorted(m):
        print(f"{n} = {m[n]:.6g} {units[n]}")
    print(f"samples = {len(timed)} timed, {len(traced)} traced, "
          f"{sum(1 for s in timed if s.latency > m['latency_p90_s'])} beyond p90")
    print(f"host: steal {steal:.3f}, probe {probe[0]:.4f} s before, {probe[1]:.4f} s after")
    path = write_record(args, {
        "args": vars(args), "fingerprint": fp, "metrics": m,
        "setup_runs_s": setups, "phases_s": phases, "host_steal_ratio": steal,
        "host_probe_s": probe,
        "peak_rss_mb": rss, "errors": errors, "per_label": per_label,
        "latencies": {lab: [s.latency for s in timed if s.label == lab]
                      for lab in sorted({s.label for s in timed})},
        "warm_latencies": {s.label: s.latency for s in warm},
        "spans": [] if not args.trace else [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op, "py4j": s.py4j_end - s.py4j_start, "error": s.error}
            for s in tracer.spans
        ],
    })
    print(f"record = {os.path.relpath(path, ROOT)}")
    for e in errors[:20]:
        print(f"error: {e}")
    names = declared_metrics("per_layer" if args.trace else "end_to_end")
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": len(errors),
        "metrics": {n: {"value": float(m[n]), "unit": units[n]} for n in names},
    }))
    return 0 if not errors else 1


def run(args) -> int:
    """Start Spark in a fresh work directory, run the benchmark, and stop
    the JVM and remove the directory whatever happens."""
    t0 = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    prepare_env(work)
    spark = None
    try:
        spark = start_spark(work)
        print(f"spark_start_s = {time.perf_counter() - t0:.3f}")
        return bench(spark, args, work)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["analytics", "session_api", "ingest_mutate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, "lakehouse_spark", "__init__.py")):
        print(f"no lakehouse_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
