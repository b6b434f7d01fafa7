"""The benchmark's workloads, each driven from outside the engine through
its public functions.

* ``api_cars``: the reference's ten read routes plus the random-data
  append, closed loop, two clients, over a seeded car table.
* ``query_suite``: a time-stratified sample of the registered batch
  queries plus the seven ``stream_*`` gates (each run to completion) over
  a seeded corpus with warm stored indexes, closed loop, one client.

Every workload has the same shape: ``prepare`` (the benchmark's own input
generation, untimed), ``setup`` (timed),
``measure`` (closed loop until the deadline, always at least one full
pass over its operation set) and ``check`` (outside the timed window).
``run`` turns the operation records into the metrics.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
from contextlib import contextmanager

from perfbench import corpus, oracle
from perfbench.trace import Tracer, exec_counts, install_engine_probes

PKG = "automotive_big_data_analysis_spark"

READ_ROUTES = [
    "get_brands",
    "get_brand_models",
    "get_model_details",
    "get_cities",
    "get_city_rankings",
    "get_recommendations",
    "get_market_overview",
    "get_market_trends",
    "get_price_distribution",
    "get_consumer_preferences",
]
WRITE_ROUTE = "generate_random"
WRITE_ROWS = 500
API_CLIENTS = 2
# whole blocks in the timed window: each route has three samples, the
# first JIT-cold, and its median is robust to one slow warm one
API_BLOCKS = 3

# query_suite runs every SAMPLE_EVERY-th eligible batch query, ranked by
# the times sweep.py measured (suite_times.json; README.md)
SUITE_TIMES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "suite_times.json")
SAMPLE_EVERY = 20
# each batch query runs this many times a pass, between the gates, so its
# median is robust to one slow run
BATCH_REPEATS = 3
SMOKE_SUITE = ["pricing_summary", "bucketed_join_revenue"]

# three of the seven registered gates: a SQL windowed aggregation and the
# two ROADMAP names (the eviction floor, the documents stream); the other
# four did not fit the run budget (README.md)
STREAM_GATES = [
    "stream_hourly_rollup",
    "stream_user_totals_evict",
    "stream_curated_documents",
]
SMOKE_GATES = ["stream_hourly_rollup", "stream_curated_documents"]

# derived-store families query_suite's set-up may build, in bench.py's
# build order: those its batch sample reads, and the JSONL mirror the
# gates read. The dedup pair index and the ANN index are never built
# (see README.md)
ALL_BUILDS = ["text_mirror", "bucketed_layout", "layout_mirrors", "schema_evo_mirror"]
GATE_BUILDS = ["jsonl_mirror"]
BUILD_FAMILIES = ALL_BUILDS + GATE_BUILDS


def suite_sample(every: int = SAMPLE_EVERY) -> tuple[list[str], list[str]]:
    """(queries, families they read) of query_suite.

    Eligible are the batch queries that match their oracle and read no
    stored index that set-up does not build. They are ranked by their
    mean time over the sweep's two passes and every ``every``-th is taken
    from the middle of its stratum, so the sample spreads over short and
    long queries as the full suite does; it runs in registry order."""
    with open(SUITE_TIMES) as fh:
        table = json.load(fh)["queries"]
    eligible = {
        n: q for n, q in table.items()
        if q["check"] == "ok" and not q["lazy_stores"] and not q["stored_indexes"]
    }
    ranked = sorted(eligible, key=lambda n: (statistics.fmean(eligible[n]["pass_s"]), n))
    picked = set(ranked[every // 2 :: every])
    names = [n for n in table if n in picked]
    reads = {f for n in names for f in eligible[n]["reads"]}
    return names, [f for f in ALL_BUILDS if f in reads]


def _builders(spark, sf_dir: str, families: list[str]) -> dict:
    """Build step of each of ``families``."""
    from automotive_big_data_analysis_spark.operators import maintenance
    from automotive_big_data_analysis_spark.sources import (
        bucketed,
        schema_evolution,
        text_formats,
    )

    steps = {
        "text_mirror": lambda: text_formats.ensure_mirrors(spark, sf_dir),
        "bucketed_layout": lambda: bucketed.ensure_layout(spark, sf_dir),
        "layout_mirrors": lambda: maintenance.ensure_layout_mirrors(spark, sf_dir),
        "schema_evo_mirror": lambda: schema_evolution.ensure_generations(spark, sf_dir),
        "jsonl_mirror": lambda: text_formats._ensure_written(spark, sf_dir, "jsonl"),
    }
    return {f: steps[f] for f in families}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1])."""
    vals = sorted(values)
    if len(vals) == 1:
        return vals[0]
    pos = q * (len(vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


class SharedLock:
    """Many holders in shared mode or one in exclusive mode; a waiting
    exclusive holder goes before new shared ones."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._shared = 0
        self._exclusive = False
        self._waiting = 0

    @contextmanager
    def shared(self):
        with self._cond:
            self._cond.wait_for(lambda: not self._exclusive and not self._waiting)
            self._shared += 1
        try:
            yield
        finally:
            with self._cond:
                self._shared -= 1
                self._cond.notify_all()

    @contextmanager
    def exclusive(self):
        with self._cond:
            self._waiting += 1
            self._cond.wait_for(lambda: not self._exclusive and self._shared == 0)
            self._waiting -= 1
            self._exclusive = True
        try:
            yield
        finally:
            with self._cond:
                self._exclusive = False
                self._cond.notify_all()


class Context:
    """Everything one workload run needs."""

    def __init__(self, spark, work: str, seed: int, seconds: float, smoke: bool, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.smoke = smoke
        self.trace = trace
        # set only while the traced window runs
        self.tracer: Tracer | None = None
        # run ids (= job groups) of the streams each operation started
        self.stream_groups: dict[str, list[str]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class Workload:
    """One closed-loop workload. Subclasses fill in the hooks."""

    def prepare(self, ctx: Context) -> None:
        """Generate inputs the engine does not write itself (untimed)."""

    def setup(self, ctx: Context) -> float:
        """Write the inputs and build what the operations read; returns
        its seconds."""
        raise NotImplementedError

    def measure(self, ctx: Context, names: list[str] | None = None,
                seconds: float | None = None) -> list[dict]:
        """Closed loop over ``names`` (default: every operation of the
        workload) for ``seconds`` (default: the run's), always at least
        one whole pass."""
        raise NotImplementedError

    def reference_names(self) -> list[str] | None:
        """Operations of the untraced reference window of a traced run."""
        return None

    def start_tracing(self, ctx: Context) -> None:
        """Workload-specific probes for the traced window."""

    def stop_tracing(self, ctx: Context) -> None:
        """Remove what :meth:`start_tracing` installed."""

    def check(self, ctx: Context) -> tuple[int, list[str]]:
        """Compare outputs with DuckDB; returns (checks made, mismatches)."""
        raise NotImplementedError

    def end_to_end(self, ops: list[dict], wall_s: float) -> dict[str, float]:
        """Per-operation median times of reads, queries or gates (appends
        count toward throughput only)."""
        per = self.per_name_median_s([r for r in ops if r["kind"] != "write"]).values()
        return {
            "pass_s": sum(per),
            "ops_per_s": sum(r["ok"] for r in ops) / wall_s,
        }

    # ---- shared helpers ---------------------------------------------

    def timed(self, ctx: Context, op_id: str, name: str, kind: str, fn) -> dict:
        """Run one operation; with tracing on, under a root span and a job
        group so its jobs, stages and tasks can be counted."""
        rec = {"id": op_id, "name": name, "kind": kind, "ok": True, "error": None}
        tracer = ctx.tracer
        sc = ctx.spark.sparkContext
        if tracer is not None:
            sc.setJobGroup(op_id, name)
        rec["start"] = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.op(op_id, name):
                    rec["result"] = fn()
            else:
                rec["result"] = fn()
        except Exception as exc:  # noqa: BLE001 - counted as a failure
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        rec["end"] = time.perf_counter()
        if tracer is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            groups = [op_id] + ctx.stream_groups.pop(op_id, [])
            for key, val in exec_counts(ctx.spark, groups).items():
                tracer.count(key, val, op=op_id)
        return rec

    @staticmethod
    def per_name_median_s(ops: list[dict]) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for r in ops:
            if r["ok"]:
                by.setdefault(r["name"], []).append(r["end"] - r["start"])
        return {n: statistics.median(v) for n, v in by.items()}


# ---------------------------------------------------------------------
# api_cars


class ApiCars(Workload):
    """Closed loop, two clients sharing one seeded schedule of eleven-
    request blocks (one 500-row append, then each read route once in
    seeded order). Every request re-reads the table, as the reference re-scanned
    it per request. Set-up writes the seeded table once: a second write in
    the same process measures a JIT-warm writer, and the run budget has no
    room for it."""

    def __init__(self, smoke: bool):
        self.rows = 2_000 if smoke else 20_000

    def setup(self, ctx: Context) -> float:
        from automotive_big_data_analysis_spark.sources import synthetic, tables

        self.table = ctx.path("cars")
        t0 = time.perf_counter()
        tables.insert_df(synthetic.generate_car_data(ctx.spark, self.rows, seed=ctx.seed), self.table)
        elapsed = time.perf_counter() - t0
        brands = list(synthetic.BRAND_MODELS)
        self.brands = brands
        self.models = [f"{b}_{m}".replace(" ", "_") for b in brands for m in synthetic.BRAND_MODELS[b]]
        self.lock = SharedLock()
        self.versions = [self.table_files()]
        self.reads: list[tuple] = []
        return elapsed

    def _read_params(self, rng: random.Random) -> dict:
        lo = rng.choice([80_000, 150_000, 250_000, 350_000])
        return {
            "brand": rng.choice(self.brands),
            "model_id": rng.choice(self.models),
            "metric": rng.choice(["registrations", "attention"]),
            "trend_metric": rng.choice(["registrations", "attention", "avg_price"]),
            "filters": {
                "brand": rng.choice([None, rng.choice(self.brands)]),
                "min_price": lo,
                "max_price": lo + rng.choice([50_000, 100_000, 200_000]),
            },
        }

    def table_files(self) -> list[str]:
        return sorted(
            os.path.join(d, f)
            for d, _sub, fs in os.walk(self.table)
            for f in fs
            if f.endswith(".parquet")
        )

    def request(self, ctx: Context, route: str, rng: random.Random):
        """One request; returns (time the table lock was granted, payload).
        Appends hold the table exclusively, so every read sees one
        complete table version; a read's payload is (version, params,
        response data) for the check. The lock exists only to make reads
        checkable, so latency is timed from the moment it is granted."""
        from automotive_big_data_analysis_spark import api
        from automotive_big_data_analysis_spark.operators import car_queries
        from automotive_big_data_analysis_spark.sources import tables

        if route == WRITE_ROUTE:
            seed = rng.randrange(1, 2**31)
            with self.lock.exclusive():
                granted = time.perf_counter()
                api.generate_random(ctx.spark, WRITE_ROWS, seed=seed, table_path=self.table)
                self.versions.append(self.table_files())
            return granted, None
        p = self._read_params(rng)
        args = {
            "get_brand_models": (p["brand"],),
            "get_model_details": (p["model_id"],),
            "get_city_rankings": (p["metric"],),
            "get_market_trends": (p["trend_metric"],),
            "get_consumer_preferences": ("type",),
        }.get(route, ())
        with self.lock.shared():
            granted = time.perf_counter()
            version = len(self.versions) - 1
            cars = car_queries.car_view(tables.read_car_table(ctx.spark, self.table))
            fn = getattr(api, route)
            if route == "get_recommendations":
                data = fn(cars, **p["filters"])["data"]
            else:
                try:
                    data = fn(cars, *args)["data"]
                except api.ApiError:
                    if route != "get_model_details":
                        raise
                    data = None  # the reference's 404 for an absent model
        return granted, (version, p, data)

    @staticmethod
    def schedule(seed: int, routes: list[str]):
        """Endless seeded request stream in blocks of ``routes``: the
        append (if any) first, then the read routes once each in shuffled
        order, so every read of block k sees the table after k appends
        whatever the seed. Each request carries the seed of its own
        parameters."""
        rng = random.Random(seed)
        while True:
            reads = [r for r in routes if r != WRITE_ROUTE]
            rng.shuffle(reads)
            for route in [r for r in routes if r == WRITE_ROUTE] + reads:
                yield route, rng.randrange(2**31)

    def reference_names(self) -> list[str]:
        """Reads only, so the reference window adds no files."""
        return READ_ROUTES

    def measure(self, ctx: Context, names: list[str] | None = None,
                seconds: float | None = None) -> list[dict]:
        """Two closed-loop clients take the next request of one shared
        schedule whenever their previous one returns. They stop at the
        first block boundary after the deadline, and after ``API_BLOCKS``
        blocks in the timed window (one block otherwise), so every route
        has the same number of samples, one per table version."""
        deadline = time.perf_counter() + (ctx.seconds if seconds is None else seconds)
        routes = names or READ_ROUTES + [WRITE_ROUTE]
        stream = self.schedule(ctx.seed, routes)
        lock = threading.Lock()
        issued = [0]
        block = len(routes)
        least = block * (API_BLOCKS if names is None else 1)

        def client(out: list) -> None:
            while True:
                with lock:
                    n = issued[0]
                    if n >= least and n % block == 0 and time.perf_counter() >= deadline:
                        return
                    route, req_seed = next(stream)
                    issued[0] += 1
                kind = "write" if route == WRITE_ROUTE else "read"
                rec = self.timed(
                    ctx, f"r{n}", route, kind,
                    lambda: self.request(ctx, route, random.Random(req_seed)),
                )
                if rec["ok"]:
                    rec["start"], payload = rec.pop("result")
                    if kind == "read":
                        self.reads.append((route, *payload))
                out.append(rec)

        outs: list[list[dict]] = [[] for _ in range(API_CLIENTS)]
        threads = [threading.Thread(target=client, args=(o,)) for o in outs]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return sorted((r for o in outs for r in o), key=lambda r: r["start"])

    def check(self, ctx: Context) -> tuple[int, list[str]]:
        """Every read response against DuckDB over the table version it
        saw, and the final row total against seeded plus appended rows."""
        from perfbench import carcheck

        bad = []
        cons = {}
        for route, version, params, data in self.reads:
            if version not in cons:
                cons[version] = carcheck.connect(self.versions[version])
            if not carcheck.response_ok(cons[version], route, params, data):
                bad.append(f"{route} on version {version} {params}: {str(data)[:200]}")
        last = len(self.versions) - 1
        con = cons.get(last) or carcheck.connect(self.versions[last])
        total = con.execute("SELECT count(*) FROM raw").fetchone()[0]
        want = self.rows + WRITE_ROWS * last
        if total != want:
            bad.append(f"row total {total} != {self.rows} seeded + {WRITE_ROWS} x {last} appends")
        for c in set(cons.values()) | {con}:
            c.close()
        return len(self.reads) + 1, bad

    def layer_metrics(self, ctx: Context, ops: list[dict]) -> dict[str, float]:
        med = self.per_name_median_s(ops)
        out = {
            f"api.{r}.p50_ms": 1000 * med.get(r, 0.0) for r in READ_ROUTES + [WRITE_ROUTE]
        }
        files = [f for _r, _d, fs in os.walk(self.table) for f in fs if f.endswith(".parquet")]
        out["sources.tables.car_files_end"] = float(len(files))
        out["sources.tables.bytes_per_row"] = dir_bytes(self.table) / (
            self.rows + WRITE_ROWS * (len(self.versions) - 1)
        )
        return out


# ---------------------------------------------------------------------
# query_suite


class QuerySuite(Workload):
    """Registered queries over a seeded corpus: the batch sample of
    :func:`suite_sample` and the streaming gates (each driven to
    completion), one client, pass after pass until the deadline (always
    at least one whole pass). A pass runs the batch sample
    ``BATCH_REPEATS`` times with a gate after each, so a slow moment of
    the host hits one run of a query, not all of them. The order is fixed
    so that a query's place in the pass, and with it how warm the JVM is
    when it runs, does not change with the seed; the seed changes the
    corpus.

    Set-up builds the stores the operations read, the same way in both
    trace modes, so their cost lands in ``setup_s``. It runs once per
    run: a second build of the same corpus in one process would time the
    engine's in-process memos rather than a build."""

    def __init__(self, smoke: bool):
        self.sf = 0.001 if smoke else 0.01
        if smoke:
            batch, families = SMOKE_SUITE, ["bucketed_layout"]
        else:
            batch, families = suite_sample()
        self.batch = batch
        self.gates = SMOKE_GATES if smoke else STREAM_GATES
        # the gates read the JSONL landing mirror, part of the text mirror
        self.families = families if "text_mirror" in families else families + GATE_BUILDS
        self.active_op = None
        self.last_rows: dict[str, tuple] = {}  # name -> (schema, rows) of its last run
        self.listener = None
        self.batches: list[tuple[str, float]] = []
        self.run_op: dict[str, str] = {}
        self.state_rows: dict[tuple[str, str], float] = {}

    def prepare(self, ctx: Context) -> None:
        """Write the seeded corpus. This is the benchmark's own input
        generation, not the engine's work, so it is not in ``setup_s``."""
        self.sf_dir = ctx.path("corpus")
        corpus.write_corpus(self.sf_dir, ctx.seed, self.sf)

    def setup(self, ctx: Context) -> float:
        self.builds = {}
        for fam, build in _builders(ctx.spark, self.sf_dir, self.families).items():
            t0 = time.perf_counter()
            build()
            self.builds[fam] = time.perf_counter() - t0
        return sum(self.builds.values())

    def reference_names(self) -> list[str]:
        return self.batch[:3]

    def measure(self, ctx: Context, names: list[str] | None = None,
                seconds: float | None = None) -> list[dict]:
        import __spark_entry__ as entry

        registry = entry.queries()
        if names is None:
            names = []
            for i in range(BATCH_REPEATS):
                names += self.batch + self.gates[i::BATCH_REPEATS]
        deadline = time.perf_counter() + (ctx.seconds if seconds is None else seconds)
        ops: list[dict] = []
        passes = 0
        while passes == 0 or time.perf_counter() < deadline:
            for name in names:
                if passes and time.perf_counter() >= deadline:
                    break

                def run(name=name):
                    fn = registry[name]
                    if ctx.tracer is None:
                        df = fn(ctx.spark, self.sf_dir)
                    else:
                        with ctx.tracer.span(name, "operators"):
                            df = fn(ctx.spark, self.sf_dir)
                    return df, df.collect()

                kind = "gate" if name in self.gates else "query"
                self.active_op = op_id = f"q{len(ops)}"
                rec = self.timed(ctx, op_id, name, kind, run)
                self.active_op = None
                if rec["ok"]:
                    df, rows = rec.pop("result")
                    self.last_rows[name] = (df.schema, rows)
                ops.append(rec)
            passes += 1
        return ops

    def check(self, ctx: Context) -> tuple[int, list[str]]:
        import __spark_entry__ as entry

        sqls = entry.oracle_sql()
        con = oracle.corpus_connection(self.sf_dir)
        bad = []
        for name, (schema, rows) in sorted(self.last_rows.items()):
            reason = oracle.check_query(con, sqls[name], oracle.rows_to_pandas(rows, schema))
            if reason:
                bad.append(f"{name}: {reason}")
        con.close()
        return len(self.last_rows), bad

    def start_tracing(self, ctx: Context) -> None:
        """A listener for the micro-batch progress of every stream a gate
        starts."""
        from pyspark.sql.streaming import StreamingQueryListener

        suite = self

        class Listener(StreamingQueryListener):
            # onQueryStarted runs synchronously inside start(); progress
            # events arrive later, so they are matched by run id
            def onQueryStarted(self, event):
                op = suite.active_op
                suite.run_op[str(event.runId)] = op
                ctx.stream_groups.setdefault(op, []).append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                op = suite.run_op.get(str(p.runId))
                suite.batches.append((op, float(p.batchDuration)))
                rows = sum(s.numRowsTotal for s in p.stateOperators)
                suite.state_rows[(op, str(p.runId))] = float(rows)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        ctx.spark.streams.addListener(self.listener)

    def stop_tracing(self, ctx: Context) -> None:
        if self.listener is not None:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
            ctx.spark.streams.removeListener(self.listener)
            self.listener = None

    def layer_metrics(self, ctx: Context, ops: list[dict]) -> dict[str, float]:
        out = {f"build.{f}_s": s for f, s in self.builds.items()}
        out["build.bytes_written"] = float(dir_bytes(ctx.path("stores")))
        med = self.per_name_median_s(ops)
        out.update({f"streaming.{g}_s": med.get(g, 0.0) for g in STREAM_GATES})
        gate_ops = {r["id"] for r in ops if r["kind"] == "gate"}
        n = max(len(gate_ops), 1)
        batches = [d for op, d in self.batches if op in gate_ops]
        out["streaming.batches"] = len(batches) / n
        out["streaming.batch_p50_ms"] = quantile(batches, 0.5) if batches else 0.0
        out["streaming.state_rows_total"] = sum(
            v for (op, _run), v in self.state_rows.items() if op in gate_ops
        ) / n
        return out


WORKLOADS = {"api_cars": ApiCars, "query_suite": QuerySuite}


# ---------------------------------------------------------------------
# one run

CAR_QUERY_FUNCS = [
    "car_view", "brands", "brand_models", "model_details", "cities",
    "city_rankings", "recommendations", "market_overview", "popular_brands",
    "market_trends", "price_distribution", "consumer_preferences",
]
SELF_LAYERS = ["op", "api", "operators", "sources", "catalog", "exec"]


def instrument_layers(tracer: Tracer, spark) -> None:
    """Spans at each layer boundary the workloads cross."""
    import __spark_entry__  # noqa: F401 - load every module before aliasing

    install_engine_probes(tracer, spark)
    for route in READ_ROUTES + [WRITE_ROUTE]:
        tracer.instrument(f"{PKG}.api", route, "api")
    for fn in CAR_QUERY_FUNCS:
        tracer.instrument(f"{PKG}.operators.car_queries", fn, "operators")

    def timed_calls(key):
        def on_exit(rec, args, out):
            tracer.count(key, 1000 * (rec["end"] - rec["start"]))
            tracer.count(key + ".calls")

        return on_exit

    for fn in ("read_car_table", "insert_df"):
        tracer.instrument(f"{PKG}.sources.tables", fn, "sources",
                          timed_calls(f"sources.tables.{fn}_ms"))
    tracer.instrument(f"{PKG}.sources.synthetic", "generate_car_data", "sources")


def layer_means(tracer: Tracer, ops: list[dict]) -> dict[str, float]:
    """Per-operation means of the counters and span times of ``ops``."""
    ids = {r["id"] for r in ops}
    n = max(len(ids), 1)
    total: dict[str, float] = {}
    for op in ids:
        for key, val in tracer.op_counts.get(op, {}).items():
            total[key] = total.get(key, 0.0) + val
    out = {
        key: total.get(key, 0.0) / n
        for key in (
            "py4j.calls", "catalog.load_table_calls", "catalog.load_table_ms",
            "catalog.load_table_misses", "exec.jobs", "exec.stages", "exec.tasks",
            "exec.failed_tasks", "catalyst.analysis_ms", "catalyst.optimization_ms",
            "catalyst.planning_ms",
        )
    }
    for key in ("sources.tables.read_car_table_ms", "sources.tables.insert_df_ms"):
        calls = total.get(key + ".calls", 0.0)
        out[key] = total.get(key, 0.0) / calls if calls else 0.0

    spans = [s for s in tracer.spans if s["op"] in ids]
    by_id = {s["id"]: s for s in spans}
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    self_s = {layer: 0.0 for layer in SELF_LAYERS}
    exec_s = build_s = 0.0
    for s in spans:
        dur = s["end"] - s["start"]
        self_s[s["layer"]] = self_s.get(s["layer"], 0.0) + max(0.0, dur - child.get(s["id"], 0.0))
        parent = by_id.get(s["parent"])
        if s["layer"] == "exec":
            exec_s += dur
        elif s["layer"] == "operators" and parent is not None and parent["layer"] == "op":
            build_s += dur
    for layer in SELF_LAYERS:
        out[f"self.{layer}_ms"] = 1000 * self_s[layer] / n
    out["exec.collect_s"] = exec_s / n
    out["operators.build_s"] = build_s / n

    # reads only: an append's write job runs through DataFrameWriter,
    # which is not an exec span, and would count as construction
    reads = [r for r in ops if r["kind"] == "read"]
    if reads:
        read_ids = {r["id"] for r in reads}
        collect = sum(s["end"] - s["start"] for s in spans
                      if s["layer"] == "exec" and s["op"] in read_ids)
        wall = sum(r["end"] - r["start"] for r in reads)
        out["api.collect_ms"] = 1000 * collect / len(reads)
        out["api.build_ms"] = 1000 * (wall - collect) / len(reads)
    else:
        out["api.collect_ms"] = out["api.build_ms"] = 0.0
    return out


def zero_layers() -> dict[str, float]:
    """Workload-specific per-layer metrics, zero where a workload does not
    reach the layer, so every traced run reports the same names."""
    names = [f"api.{r}.p50_ms" for r in READ_ROUTES + [WRITE_ROUTE]]
    names += ["sources.tables.car_files_end", "sources.tables.bytes_per_row"]
    names += [f"build.{f}_s" for f in BUILD_FAMILIES] + ["build.bytes_written"]
    names += [f"streaming.{g}_s" for g in STREAM_GATES]
    names += ["streaming.batches", "streaming.batch_p50_ms", "streaming.state_rows_total"]
    return {n: 0.0 for n in names}


def trace_overhead_ms(wl: Workload, base_ops: list[dict], ops: list[dict]) -> float:
    """Median over the operation names of ``base_ops`` of the traced minus
    the untraced per-name median time."""
    base = wl.per_name_median_s(base_ops)
    traced = wl.per_name_median_s(ops)
    diffs = [traced[n] - base[n] for n in base if n in traced]
    return 1000 * statistics.median(diffs) if diffs else 0.0


def window(wl: Workload, ctx: Context, names=None, seconds=None) -> tuple[list[dict], float]:
    t0 = time.perf_counter()
    ops = wl.measure(ctx, names, seconds)
    wall = time.perf_counter() - t0
    for r in ops:
        r.pop("result", None)
    return ops, wall


def run(name: str, ctx: Context, start_s: float, warmup_s: float):
    """Run one workload; returns (result, details). ``result`` has the keys
    the benchmark prints: correct, attempted, failed, metrics."""
    from perfbench.env import peak_rss_mb

    wl = WORKLOADS[name](ctx.smoke)
    t0 = time.perf_counter()
    wl.prepare(ctx)
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    data_s = wl.setup(ctx)
    phases = {"setup": time.perf_counter() - t0}
    details: dict = {"inputs_s": inputs_s, "setup_data_s": data_s, "phase_s": phases}
    if not ctx.trace:
        ops, wall = window(wl, ctx)
        metrics = {
            "setup_s": start_s + warmup_s + data_s,
            **wl.end_to_end(ops, wall),
        }
    else:
        # the traced window, then an untraced one-pass reference window
        # over a few of its operations, run as warm as the traced ones;
        # the gap between their times is the tracing overhead
        tracer = ctx.tracer = Tracer()
        instrument_layers(tracer, ctx.spark)
        wl.start_tracing(ctx)
        ops, wall = window(wl, ctx)
        traced = wl.end_to_end(ops, wall)
        tracer.uninstall()
        wl.stop_tracing(ctx)
        ctx.tracer = None
        after, _ = window(wl, ctx, wl.reference_names(), seconds=0.0)
        per_op = list(wl.per_name_median_s(ops).values())
        metrics = {
            **zero_layers(),
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            **layer_means(tracer, ops),
            **wl.layer_metrics(ctx, ops),
            "op.p50_ms": 1000 * quantile(per_op, 0.5),
            "op.p90_ms": 1000 * quantile(per_op, 0.9),
            "proc.peak_rss_mb": peak_rss_mb(ctx.spark),
            "trace.overhead_ms": trace_overhead_ms(wl, after, ops),
        }
        details.update(traced=traced, tracer=tracer)
        ops = ops + after
    phases["measure"] = time.perf_counter() - t0 - phases["setup"]
    details["op_median_s"] = wl.per_name_median_s(ops)
    errors = [f"{r['name']}: {r['error']}" for r in ops if not r["ok"]]
    n_checks, mismatches = wl.check(ctx)
    phases["check"] = time.perf_counter() - t0 - phases["setup"] - phases["measure"]
    details.update(errors=errors, mismatches=mismatches)
    result = {
        "correct": not errors and not mismatches,
        "attempted": len(ops) + n_checks,
        "failed": len(errors) + len(mismatches),
        "metrics": metrics,
    }
    return result, details
