"""Metric definitions, the per-layer computation and the report.

``END_TO_END`` and ``PER_LAYER`` are the single source of the names,
units and directions in BENCHMARK.json (the self-test checks they
agree). Each per-layer entry also records the end-to-end metric it
should move and on which workload, written down before any
optimisation is measured against it.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from workloads import CURATION_STEPS, TPCH_SHAPES

# Bounds: each run times one JVM start and, at this run length, one
# warm pass, and over ten seeds on a shared 4-vCPU VM these spread by
# 0.1-0.2 (IQR / median) with no code change, so every bound is the
# 0.25 maximum. Peak RSS is a per-layer metric: with the engine's 48g
# driver heap, G1 grows the heap to ~3 or ~4.5 GB from run to run on
# the same code.
END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("cold_pass_s", "s", "lower", 0.25),
    ("pass_s.p50", "s", "lower", 0.25),
    ("op_s.p50", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
]

_LR, _CU, _TP = "laygo_rows", "curation", "tpch_stream"


def _layer_table() -> list[tuple[str, str, str, str]]:
    """(name, unit, better, what it should move)."""
    t = [
        ("session.get_spark_s", "s", "lower", "setup_s on every workload"),
        ("session.read_table_s", "s", "lower", f"pass_s.p50 on {_TP}"),
        ("session.read_table.calls", "count", "lower", f"pass_s.p50 on {_TP}"),
        ("pipeline.ingest_s", "s", "lower", f"items_per_s on {_LR}; absent from {_CU}"),
        ("pipeline.to_list_s", "s", "lower", f"items_per_s and op_s.p50 on {_LR}"),
        ("pipeline.branch_s", "s", "lower", f"items_per_s and op_s.p50 on {_LR}"),
        ("pipeline.rows_to_driver", "count", "lower", f"items_per_s on {_LR}"),
        ("transformer.build_s", "s", "lower", f"pass_s.p50 on {_LR}"),
        ("python.run_s", "s", "lower", f"items_per_s on {_LR} and {_CU}; 0 on {_TP}"),
        ("python.start_s", "s", "lower", f"items_per_s on {_LR} and {_CU}; 0 on {_TP}"),
        ("python.init_s", "s", "lower", f"items_per_s on {_LR} and {_CU}; 0 on {_TP}"),
        ("python.sent_mb", "MB", "lower", f"items_per_s on {_LR} and {_CU}; 0 on {_TP}"),
        ("python.returned_mb", "MB", "lower", f"items_per_s on {_LR} and {_CU}; 0 on {_TP}"),
        ("errors.counted", "count", "higher", f"must equal errors.injected on {_LR}"),
        ("errors.injected", "count", "higher", f"must equal errors.counted on {_LR}"),
    ]
    t += [(f"queries.{q}.wall_s", "s", "lower", f"pass_s.p50 and op_s.p50 on {_TP}") for q in TPCH_SHAPES]
    for step in CURATION_STEPS:
        moves = {"index_write": f"cold_pass_s on {_CU}",
                 "microbatch": f"op_s.p50 on {_CU}"}.get(step, f"pass_s.p50 on {_CU}")
        t += [
            (f"operators.{step}.wall_s", "s", "lower", moves),
            (f"operators.{step}.jobs", "count", "lower", moves),
            (f"operators.{step}.stages", "count", "lower", moves),
            (f"operators.{step}.driver_gap_s", "s", "lower", moves),
        ]
    t += [
        ("cc.rounds", "count", "lower", f"pass_s.p50 on {_CU}"),
        ("pins.live", "count", "lower", f"peak_rss_mb on {_CU}; 0 on {_LR}"),
        ("peak_rss_mb", "MB", "lower", "none end to end: driver JVM + Python tree, sampled (ROADMAP 4c heap sizing)"),
        ("streaming.add_batch_s", "s", "lower", f"op_s.p50 on {_CU}"),
        ("streaming.trigger_overhead_s", "s", "lower", f"op_s.p50 on {_CU}"),
        ("index.write_amp", "ratio", "lower", f"op_s.p50 on {_CU}"),
        ("sinks.to_parquet_s", "s", "lower", f"pass_s.p50 on {_CU}"),
        ("sinks.output_mb", "MB", "lower", f"pass_s.p50 on {_CU}"),
        ("spark.jobs", "count", "lower", "pass_s.p50 on every workload (jobs x scheduling floor)"),
        ("spark.stages", "count", "lower", "pass_s.p50 on every workload (stages x scheduling floor)"),
        ("spark.tasks", "count", "lower", "pass_s.p50 on every workload"),
        ("spark.driver_gap_s", "s", "lower", "pass_s.p50 on every workload (driver-side construction)"),
        ("spark.executor_run_s", "s", "lower", "pass_s.p50 on every workload"),
        ("spark.executor_cpu_s", "s", "lower", "pass_s.p50 on every workload"),
        ("spark.gc_s", "s", "lower", "pass_s.p50 and peak_rss_mb on every workload"),
        ("spark.shuffle_write_mb", "MB", "lower", f"pass_s.p50 on {_TP} and {_CU}; flat on {_LR}"),
        ("spark.shuffle_read_mb", "MB", "lower", f"pass_s.p50 on {_TP} and {_CU}; flat on {_LR}"),
        ("op_s.p90", "s", "lower", "tail of op_s.p50's distribution on every workload"),
        ("trace_overhead", "ratio", "lower", "none: traced over untraced pass_s.p50"),
        ("env.jvm_probe_s", "s", "lower", "none: box drift calibration (JVM-only job)"),
        ("env.py_probe_s", "s", "lower", "none: box drift calibration (Arrow/Python job)"),
        ("env.load1", "load", "lower", "none: 1-minute load average at the end of set-up"),
        ("env.cores", "count", "higher", "none: effective Spark cores"),
        ("env.driver_memory_mb", "MB", "lower", "none: effective spark.driver.memory"),
    ]
    return t


PER_LAYER = _layer_table()
UNITS = {n: u for n, u, *_ in END_TO_END} | {n: u for n, u, *_ in PER_LAYER}


def select(values: dict[str, float], kind: str) -> dict[str, tuple[float, str]]:
    """Every metric of ``kind``, by name, with its unit."""
    names = [m[0] for m in (END_TO_END if kind == "end_to_end" else PER_LAYER)]
    missing = [n for n in names if n not in values]
    if missing:
        raise KeyError(f"run produced no value for {missing}")
    return {n: (float(values[n]), UNITS[n]) for n in names}


def memory_mb(spec: str) -> float:
    spec = spec.strip().lower()
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    if spec[-1] in scale:
        return float(spec[:-1]) * scale[spec[-1]]
    return float(spec) / (1 << 20)


def calibration_probes(spark) -> dict[str, float]:
    """Fixed JVM-only and Arrow/Python jobs, timed after set-up, so a
    reader can tell box drift (probes moved) from a code change."""
    t0 = time.perf_counter()
    spark.range(1 << 26).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    jvm = time.perf_counter() - t0
    n = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    spark.range(0, 1 << 20, 1, n).mapInPandas(lambda it: it, schema="id long").write.format("noop").mode(
        "overwrite"
    ).save()
    py = time.perf_counter() - t0
    return {"env.jvm_probe_s": jvm, "env.py_probe_s": py, "env.load1": os.getloadavg()[0]}


def per_layer(wl, tracer, log_dir: str, env: dict, *, get_spark_s: float, trace_overhead: float,
              ops: list[float], first_measured: int) -> dict[str, float]:
    from eventlog import EventLog, find_app_log

    log = EventLog(find_app_log(log_dir))
    spans = tracer.spans
    by_id = {s.sid: s for s in spans}
    credited: dict[int, set[int]] = {s.sid: set() for s in spans}
    for jid, s in log.attribute(spans).items():
        while s is not None:
            credited[s.sid].add(jid)
            s = by_id.get(s.parent)
    warm = sorted({s.pass_index for s in spans if s.pass_index is not None and s.pass_index >= first_measured})
    first = warm[0]

    def in_pass(name: str, p: int = first):
        return [s for s in spans if s.name == name and s.pass_index == p]

    def warm_median(name: str) -> float:
        per = [sum(s.seconds for s in in_pass(name, p)) for p in warm if in_pass(name, p)]
        return statistics.median(per) if per else 0.0

    def jobs_of(ss) -> set[int]:
        return set().union(*(credited[s.sid] for s in ss)) if ss else set()

    out: dict[str, float] = dict(env)
    out["session.get_spark_s"] = get_spark_s
    for name in ("pipeline.ingest", "pipeline.to_list", "pipeline.branch", "transformer.build",
                 "session.read_table"):
        out[f"{name}_s"] = warm_median(name)
    out["session.read_table.calls"] = float(len(in_pass("session.read_table")))
    for q in TPCH_SHAPES:
        out[f"queries.{q}.wall_s"] = warm_median(f"queries.{q}")
    for step in CURATION_STEPS:
        name = f"operators.{step}"
        # the stored index is built in the first (cold) pass only
        ss = [s for s in spans if s.name == name] if step == "index_write" else in_pass(name)
        t = log.totals(jobs_of(ss))
        out[f"{name}.wall_s"] = sum(s.seconds for s in ss) if step == "index_write" else warm_median(name)
        out[f"{name}.jobs"] = t["jobs"]
        out[f"{name}.stages"] = t["stages"]
        out[f"{name}.driver_gap_s"] = log.driver_gap_s(ss)
    pass_spans = in_pass("pass")
    t = log.totals(jobs_of(pass_spans))
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb"):
        out[f"spark.{k}"] = t[k]
    out["spark.driver_gap_s"] = log.driver_gap_s(pass_spans)
    for k in ("python.run_s", "python.start_s", "python.init_s", "python.sent_mb", "python.returned_mb"):
        out[k] = t[k]
    layer = dict(wl.layer)
    for k in ("pipeline.rows_to_driver", "errors.counted", "errors.injected", "cc.rounds", "pins.live",
              "streaming.add_batch_s", "streaming.trigger_overhead_s", "index.write_amp",
              "sinks.to_parquet_s", "sinks.output_mb"):
        out[k] = layer.get(k, 0.0)
    out["op_s.p90"] = statistics.quantiles(ops, n=10, method="inclusive")[-1] if len(ops) > 1 else ops[0]
    out["trace_overhead"] = trace_overhead
    return out


def report(args, out: dict, env: dict, correct: bool, attempted: int, failed: int, passes: int) -> None:
    """Human-readable summary on standard error."""
    w = sys.stderr.write
    w(f"workload {args.workload} seed {args.seed} trace {args.trace}: {passes} warm passes, "
      f"cores {env['env.cores']:.0f}, driver memory {env['env.driver_memory_mb']:.0f} MB\n")
    w(f"correct {correct}; operations attempted {attempted}, failed {failed}, "
      f"error_rate {failed / max(attempted, 1):.4f}\n")
    for name, (value, unit) in out.items():
        w(f"  {name:44s} {value:14.6f} {unit}\n")
