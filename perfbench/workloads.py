"""The benchmark workloads: each a closed loop with one client.

A workload prepares its seeded inputs, runs passes (``run_pass``) made
of operations one client issues one after another, and checks its
outputs against an independent evaluation (``check``). Between the
cold pass and the measured ones it runs an untimed ``warm_up``. Every
call into the engine goes through ``Tracer.span`` so traced runs can
attribute Spark jobs to it. Correctness checks are never timed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys

import gen

CURATION_STEPS = ["index_write", "microbatch", "near_dedup", "to_parquet"]


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, scratch: str):
        self.spark, self.tr, self.seed, self.scratch = spark, tracer, seed, scratch
        self.items = 0  # input units one pass processes, for items_per_s
        self.layer: dict[str, float] = {}

    def prepare(self) -> None:
        raise NotImplementedError

    def run_pass(self, index: int) -> list[float]:
        """One pass; returns the latency of each operation in it."""
        raise NotImplementedError

    def warm_up(self) -> list[float]:
        """Untimed work between the cold pass and the measured ones; by
        default none. Returns the latency of each operation in it."""
        return []

    def check(self) -> list[str]:
        """Untimed output checks; returns the problems found."""
        raise NotImplementedError


# -- laygo_rows -----------------------------------------------------------------


def _enrich(rec):
    """Per-row map of the laygo workload; raises on the masked rows."""
    qty = int(rec["qty_raw"])
    return {
        "id": rec["id"],
        "user": rec["user"],
        "category": rec["category"],
        "amount": rec["amount"],
        "qty": qty,
        "total": rec["amount"] * qty,
    }


def _keep(rec):
    return rec["category"] != "music" and rec["qty"] % 5 != 0


MIN_AMOUNT = 50.0
HIGH_SCORE = 2000.0
ENRICHED = "id long, user string, category string, amount double, qty long, total double"


def _count_errors(chunk, exc, ctx):
    ctx["errors"] += len(chunk)


def laygo_reference(records: list[dict]) -> tuple[list[dict], int]:
    """Pure-Python evaluation of the laygo workload's pipeline: the
    surviving records and the number of rows whose map raised."""
    out, errors = [], 0
    for rec in records:
        if not rec["amount"] >= MIN_AMOUNT:
            continue
        try:
            row = _enrich(rec)
        except ValueError:
            errors += 1
            continue
        if _keep(row):
            row["score"] = row["total"] * 2 + 1
            out.append(row)
    return out, errors


def _row_key(r: dict) -> tuple:
    return tuple(sorted(r.items()))


class LaygoRows(Workload):
    """Dict records through the fluent Pipeline: Column filter, per-row
    map under row-mode ``catch`` (masked rows raise and are counted),
    Python ``filter_rows``, Column ``map``, ``to_list`` and a 2-way
    ``branch``."""

    name = "laygo_rows"
    N = 8_000

    def prepare(self) -> None:
        self.records, _ = gen.laygo_records(self.seed, self.N)
        self.expected, self.injected = laygo_reference(self.records)
        self.items = self.N
        self.outputs: list[tuple] = []

    def run_pass(self, index: int) -> list[float]:
        from pyspark.sql import functions as F

        from laygo_python_spark import Context, Pipeline, Transformer

        tr = self.tr
        ctx = Context(spark=self.spark)
        ctx.counter("errors")
        with tr.span("pipeline.ingest"):
            p = Pipeline(self.records, spark=self.spark, context=ctx)
        with tr.span("transformer.build"):
            p = (
                p.transform(lambda t: t.filter(F.col("amount") >= MIN_AMOUNT))
                .catch(lambda t: t.map_rows(_enrich), schema=ENRICHED, on_error=_count_errors, mode="row")
                .transform(lambda t: t.filter_rows(_keep))
                .transform(lambda t: t.map(score=F.col("total") * 2 + 1))
            )
        with tr.span("pipeline.to_list") as s_list:
            rows, snap = p.to_list()
        errors_list = snap["errors"]
        with tr.span("pipeline.branch") as s_branch:
            branches, snap = p.branch(
                {
                    "high": (F.col("score") >= HIGH_SCORE, Transformer()),
                    "low": (F.col("score") < HIGH_SCORE, Transformer()),
                }
            )
        self.outputs.append((rows, errors_list, branches, snap["errors"] - errors_list))
        self.layer["pipeline.rows_to_driver"] = float(len(rows) + sum(len(v) for v in branches.values()))
        self.layer["errors.counted"] = float(errors_list)
        self.layer["errors.injected"] = float(self.injected)
        return [s_list.seconds, s_branch.seconds]

    def check(self) -> list[str]:
        want = sorted(_row_key(r) for r in self.expected)
        want_high = sorted(_row_key(r) for r in self.expected if r["score"] >= HIGH_SCORE)
        want_low = sorted(_row_key(r) for r in self.expected if r["score"] < HIGH_SCORE)
        problems = []
        for i, (rows, err_list, branches, err_branch) in enumerate(self.outputs):
            if sorted(_row_key(r) for r in rows) != want:
                problems.append(f"pass {i}: to_list rows differ from the reference ({len(rows)} vs {len(want)})")
            if sorted(_row_key(r) for r in branches.get("high", [])) != want_high:
                problems.append(f"pass {i}: branch 'high' differs from the reference")
            if sorted(_row_key(r) for r in branches.get("low", [])) != want_low:
                problems.append(f"pass {i}: branch 'low' differs from the reference")
            if err_list != self.injected or err_branch != self.injected:
                problems.append(
                    f"pass {i}: errors counted {err_list}/{err_branch}, injected {self.injected}"
                )
        self.outputs.clear()
        return problems


# -- curation -------------------------------------------------------------------


class Curation(Workload):
    """One incremental curation cycle over a stored MinHash-LSH index
    built from shard 0 (``minhash_index_write``, in the first pass): drain
    shards 1..K-1 one file per trigger through
    ``incremental_dedup_processor`` (``foreachBatch``, ``availableNow``),
    cluster the matched pairs with ``connected_components`` and write
    the cluster map with ``to_parquet``."""

    name = "curation"
    N_DOCS = 1200
    SHARDS = 2

    def prepare(self) -> None:
        self.base = os.path.join(self.scratch, "curation")
        table = gen.documents(self.seed, self.N_DOCS)
        shards = gen.shard_of(self.seed, self.N_DOCS, self.SHARDS)
        paths = gen.write_shards(table, shards, self.SHARDS, f"{self.base}/shards")
        self.seen_path = paths[0]
        self.stream_dir = f"{self.base}/stream"
        os.makedirs(self.stream_dir)
        for p in paths[1:]:
            shutil.copy2(p, self.stream_dir)
        self.stream_bytes = sum(os.path.getsize(p) for p in paths[1:])
        self.items = int((shards > 0).sum())  # docs ingested per pass
        self.passes: list[str] = []
        self.index0 = f"{self.base}/index0"

    def run_pass(self, index: int) -> list[float]:
        from pyspark.sql import functions as F

        from laygo_python_spark.operators import dedup
        from laygo_python_spark.operators.dedup import connected_components
        from laygo_python_spark.sources.sinks import to_parquet
        from laygo_python_spark.streaming import incremental_dedup_processor

        spark, tr = self.spark, self.tr
        work = os.path.join(self.base, f"pass-{index}")
        idx, matches = f"{work}/index", f"{work}/matches"
        if index == 0:
            # The stored index is built by the first pass only; later
            # passes (and the check) start from a copy of it, the steady
            # state of a daily ingest.
            with tr.span("operators.index_write"):
                seen = spark.read.parquet(self.seen_path)
                dedup.minhash_index_write(dedup.minhash_index(seen, hash_fn="md5"), self.index0)
        shutil.copytree(self.index0, idx)
        before = _dir_bytes(idx)
        process = incremental_dedup_processor(spark, idx, matches)
        lat: list[float] = []
        with tr.span("streaming.drain") as drain:

            def body(batch_df, batch_id):
                with tr.span("operators.microbatch", parent=drain) as sp:
                    process(batch_df, batch_id)
                lat.append(sp.seconds)

            q = (
                spark.readStream.schema(spark.read.parquet(self.seen_path).schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(self.stream_dir)
                .writeStream.foreachBatch(body)
                .option("checkpointLocation", f"{work}/checkpoint")
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()
        if len(lat) != self.SHARDS - 1:
            raise RuntimeError(f"stream drained {len(lat)} micro-batches, expected {self.SHARDS - 1}")
        done = [p for p in q.recentProgress if p.get("numInputRows")]
        add = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in done]
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in done]
        self.layer["streaming.add_batch_s"] = statistics.median(add)
        self.layer["streaming.trigger_overhead_s"] = statistics.median([t - a for t, a in zip(trig, add)])
        self.layer["index.write_amp"] = (_dir_bytes(idx) - before + _dir_bytes(matches)) / self.stream_bytes
        self._pins()

        with tr.span("operators.near_dedup"):
            stats: dict = {}
            edges = spark.read.parquet(matches).select(
                F.col("doc_id_new").alias("doc_id_a"), F.col("doc_id_seen").alias("doc_id_b")
            )
            clusters = connected_components(edges, stats=stats)
        self.layer["cc.rounds"] = float(stats.get("rounds", 0))
        self._pins()
        with tr.span("operators.to_parquet") as sp:
            to_parquet(clusters, f"{work}/clusters")
        self.layer["sinks.to_parquet_s"] = sp.seconds
        self.layer["sinks.output_mb"] = _dir_bytes(f"{work}/clusters") / (1 << 20)
        self._pins()
        self.passes.append(work)
        return lat

    def _pins(self) -> None:
        if self.tr.enabled:
            live = float(self.spark.sparkContext._jsc.getPersistentRDDs().size())
            self.layer["pins.live"] = max(self.layer.get("pins.live", 0.0), live)

    def warm_up(self) -> list[float]:
        """The reference the check compares with: the same shards applied
        to a copy of the stored index by a plain loop, without streaming.
        It runs the micro-batch body, so it also warms the measured passes."""
        from laygo_python_spark.streaming import incremental_dedup_processor

        spark = self.spark
        self.plain = os.path.join(self.base, "plain")
        shutil.copytree(self.index0, f"{self.plain}/index")
        process = incremental_dedup_processor(spark, f"{self.plain}/index", f"{self.plain}/matches")
        lat = []
        for b, name in enumerate(sorted(os.listdir(self.stream_dir))):
            with self.tr.span("operators.microbatch") as sp:
                process(spark.read.parquet(os.path.join(self.stream_dir, name)), b)
            lat.append(sp.seconds)
        return lat

    def check(self) -> list[str]:
        # Every streamed pass must give the plain loop's matches and
        # final index rows.
        spark, plain = self.spark, self.plain
        want = {t: _sorted_rows(spark, f"{plain}/{t}") for t in ("matches", "index/membership")}
        problems = []
        if not want["matches"]:
            problems.append("the plain loop found no near duplicates in a corpus with planted ones")
        clusters = None
        for i, work in enumerate(self.passes):
            for t, rows in want.items():
                got = _sorted_rows(spark, f"{work}/{t}")
                if got != rows:
                    problems.append(f"pass {i}: stream {t} has {len(got)} rows, the plain loop {len(rows)}")
            c = _sorted_rows(spark, f"{work}/clusters")
            if clusters is not None and c != clusters:
                problems.append(f"pass {i}: cluster map differs from pass 0")
            clusters = clusters if clusters is not None else c
        m = spark.read.parquet(f"{plain}/matches")
        matched = {r[0] for r in m.select("doc_id_new").union(m.select("doc_id_seen")).collect()}
        nodes = {r[0] for r in spark.read.parquet(f"{self.passes[0]}/clusters").select("node").collect()}
        if nodes != matched:
            problems.append(f"cluster map has {len(nodes)} docs, the matches {len(matched)}")
        shutil.rmtree(plain, ignore_errors=True)
        return problems


def _sorted_rows(spark, path: str) -> list[tuple]:
    df = spark.read.parquet(path)
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# -- tpch_stream ----------------------------------------------------------------

# Six of the 22 TPC-H shapes of the engine's query catalog: a scan
# aggregation, joins of three and six tables with a top-k, a semi join,
# an outer join under two aggregations, and semi plus anti joins. A
# fixed copy, so the yardstick does not move when the engine's own bench
# script does, and every seed times the same shapes.
TPCH_SHAPES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "order_priority_check",  # Q4
    "q5_local_supplier_volume",
    "customer_order_distribution",  # Q13
    "q21_waiting_suppliers",
]


class TpchStream(Workload):
    """TPC-H shapes over seeded star-schema tables, one client
    running them in the seed's permuted order, each through the noop
    sink: JVM joins, aggregations and shuffles with no Python workers.
    The warm-up collects every shape once and matches it against the
    catalog's DuckDB oracle over the same files."""

    name = "tpch_stream"
    ORDERS = 3000

    def prepare(self) -> None:
        from laygo_python_spark import queries

        queries.load_all()
        self.catalog = queries
        self.dir = os.path.join(self.scratch, "tpch")
        gen.tpch_tables(self.seed, self.ORDERS, self.dir)
        self.order = gen.tpch_order(self.seed, TPCH_SHAPES)
        self.items = len(self.order)
        self.problems: list[str] = []
        _span_read_table(self.tr)

    def run_pass(self, index: int) -> list[float]:
        lat = []
        for name in self.order:
            with self.tr.span(f"queries.{name}") as sp:
                self.catalog.QUERIES[name](self.spark, self.dir).write.format("noop").mode("overwrite").save()
            lat.append(sp.seconds)
        return lat

    def warm_up(self) -> list[float]:
        import duckdb

        con = duckdb.connect()
        for t in gen.TPCH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        lat = []
        for name in self.order:
            with self.tr.span(f"queries.{name}") as sp:
                got = self.catalog.QUERIES[name](self.spark, self.dir).toPandas()
            lat.append(sp.seconds)
            want = con.sql(self.catalog.ORACLES[name]).df()
            if sorted(got.columns) != sorted(want.columns):
                self.problems.append(f"{name}: columns {sorted(got.columns)} vs oracle {sorted(want.columns)}")
            elif len(got) != len(want):
                self.problems.append(f"{name}: {len(got)} rows, the oracle {len(want)}")
            elif value_hash(got) != value_hash(want):
                self.problems.append(f"{name}: value hash differs from the DuckDB oracle")
        con.close()
        return lat

    def check(self) -> list[str]:
        return self.problems


def _span_read_table(tracer) -> None:
    """Route the engine's ``read_table`` calls, wherever a module bound
    it, through a ``session.read_table`` span."""
    from laygo_python_spark import session

    orig = session.read_table

    def read_table(*args, **kwargs):
        with tracer.span("session.read_table"):
            return orig(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("laygo_python_spark"):
            for attr in [a for a, v in vars(mod).items() if v is orig]:
                setattr(mod, attr, read_table)


def _norm(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def value_hash(df) -> str:
    """Order-insensitive hash of a pandas frame's values, columns taken
    by name (the catalog's oracle convention)."""
    cols = sorted(df.columns)
    lines = sorted("|".join(_norm(v) for v in row) for row in df[cols].itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (LaygoRows, Curation, TpchStream)}
