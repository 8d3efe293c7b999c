"""The repository benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run sets up a Spark session through
``get_spark`` on ``local[<cores>]`` (cores and driver memory are the
engine's defaults, recorded but not overridden), generates the
workload's inputs from the seed, then:

1. times a first pass (``cold_pass_s``),
2. runs the workload's untimed warm-up, where it has one (the
   reference evaluation its check compares with),
3. repeats passes for ``--seconds`` seconds, at least one (the warm
   passes),
4. checks every output against an independent evaluation (untimed).

The last line of standard output is one JSON object: ``correct``,
``attempted`` and ``failed`` operations, and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` the Spark event log is on, every engine call is a
span, and the metrics are the per-layer ones. ``trace_overhead``
divides the traced ``pass_s.p50`` by the untraced one of the same
workload, seed, seconds and source code; when no untraced run of those
has left its record under ``perfbench/out``, the traced run makes one
first, in a child process. Spans go to
``perfbench/out/spans-<workload>-<seed>.jsonl``. Everything else the run
writes lives in a per-run directory under ``perfbench/out`` that is
removed at exit. A failed check exits with status 1.

Metric definitions and which end-to-end metric each layer metric should
move live in ``metrics.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid

import metrics
import workloads
from tracing import Tracer


def _process_start() -> float:
    """Epoch seconds at which this process started (from /proc), so
    set-up time includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


PROCESS_START = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
FIRST_MEASURED = 2  # pass 0 is the cold pass, pass 1 the warm-up (if any)
RSS_INTERVAL_S = 0.2


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the driver JVM and the Python workers), sampled on a thread."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, ValueError, IndexError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def set_environment(scratch: str) -> None:
    """Everything the run and its child processes write goes under the
    run directory, and Python workers import the engine from this
    checkout whatever their working directory."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file per JVM.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData"
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + ([prior] if prior else []))
    sys.path[:0] = [ROOT]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it (its
    Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def code_digest() -> str:
    """Digest of the engine's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "laygo_python_spark"), HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "out" and not x.startswith("."))
            for f in sorted(x for x in files if x.endswith(".py")):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def untraced_key(args) -> dict:
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "code": code_digest()}


def untraced_record(key: dict) -> str:
    return os.path.join(OUT, f"untraced-{key['workload']}-{key['seed']}-{key['code']}.json")


def untraced_pass_p50(args) -> float:
    """``pass_s.p50`` of an untraced run of this workload, seed, seconds
    and code, made now in a child process if none has been recorded."""
    key = untraced_key(args)
    path = untraced_record(key)
    if not os.path.exists(path):
        rc = subprocess.call(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.DEVNULL,
        )
        if rc != 0:
            raise RuntimeError(f"untraced run for trace_overhead failed with status {rc}")
    with open(path) as f:
        rec = json.load(f)
    if rec["key"] != key:
        raise RuntimeError(f"untraced record {path} is for {rec['key']}, not {key}")
    return rec["pass_s.p50"]


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "laygo_python_spark", "__init__.py")):
        print(f"no laygo_python_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    untraced_p50 = untraced_pass_p50(args) if args.trace else None

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    scratch = os.path.join(OUT, f"run-{run_id}")
    os.makedirs(scratch)
    try:
        return run(args, run_id, scratch, untraced_p50)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run(args, run_id: str, scratch: str, untraced_p50: float | None) -> int:
    set_environment(scratch)
    # Memory sampling is tracing: only traced runs pay for it.
    with RssSampler() if args.trace else contextlib.nullcontext() as rss:
        from laygo_python_spark.session import get_spark

        extra = {}
        if args.trace:
            os.makedirs(os.path.join(scratch, "eventlog"))
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(scratch, "eventlog"),
            }
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=extra)
        get_spark_s = time.perf_counter() - t0
        spark.range(1).count()
        setup_s = time.time() - PROCESS_START
        sc = spark.sparkContext
        env = {
            "env.cores": float(sc.defaultParallelism),
            "env.driver_memory_mb": float(metrics.memory_mb(sc.getConf().get("spark.driver.memory", "1g"))),
        }

        tracer = Tracer(run_id, bool(args.trace))
        if args.trace:
            env.update(metrics.calibration_probes(spark))
        wl = workloads.WORKLOADS[args.workload](spark, tracer, args.seed, scratch)
        wl.prepare()

        attempted = failed = 0
        passes: list[float] = []
        ops: list[float] = []
        problems: list[str] = []

        def one_pass(i: int, body=wl.run_pass) -> tuple[float, list[float]]:
            nonlocal attempted, failed
            tracer.pass_index = i
            with tracer.span("pass") as sp:
                try:
                    lat = body(i)
                except Exception as exc:  # noqa: BLE001 — a failed pass is counted, reported, and fails the run
                    failed += 1
                    attempted += 1
                    problems.append(f"pass {i}: {type(exc).__name__}: {exc}")
                    lat = []
            attempted += len(lat)
            return sp.seconds, lat

        cold_s, _ = one_pass(0)
        one_pass(1, lambda i: wl.warm_up())
        start = time.perf_counter()
        i = FIRST_MEASURED
        while i == FIRST_MEASURED or time.perf_counter() - start < args.seconds:
            wall, lat = one_pass(i)
            passes.append(wall)
            ops.extend(lat)
            i += 1
        tracer.pass_index = None
        try:
            found = wl.check()
        except Exception as exc:  # noqa: BLE001 — a check that cannot run is a failed check
            found = [f"check: {type(exc).__name__}: {exc}"]
        failed += len(found)
        problems.extend(found)
        stop_spark(spark)

    pass_p50 = statistics.median(passes)
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": cold_s,
        "pass_s.p50": pass_p50,
        "op_s.p50": statistics.median(ops or [0.0]),
        "items_per_s": wl.items * len(passes) / sum(passes),
    }
    correct = not problems
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    if args.trace:
        layer = metrics.per_layer(
            wl, tracer, os.path.join(scratch, "eventlog"), env,
            get_spark_s=get_spark_s, trace_overhead=pass_p50 / untraced_p50, ops=ops,
            first_measured=FIRST_MEASURED,
        )
        layer["peak_rss_mb"] = rss.peak / (1 << 20)
        spans_path = os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(spans_path)
        print(f"spans: {spans_path}", file=sys.stderr)
        out = metrics.select(layer, "per_layer")
    else:
        if correct:
            key = untraced_key(args)
            with open(untraced_record(key), "w") as f:
                json.dump({"key": key, "pass_s.p50": pass_p50}, f)
        out = metrics.select(e2e, "end_to_end")
    metrics.report(args, out, env, correct, attempted, failed, len(passes))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
