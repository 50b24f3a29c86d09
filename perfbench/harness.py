"""One benchmark run: set-ups, timed units, the oracle check, and the
end-to-end and per-layer metrics. Import after ``run._pin_environment``
(it imports the engine)."""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import gen
from oracle import matches
from spans import RssSampler, SparkCounters, Tracer
from workloads import (ORACLE_REQUEST, REQUEST_SCHEMA, WORKLOADS,
                       RequestSource)
from openmldb_spark.session import get_spark

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3          # set-ups per run; setup_s is their median
APP = "openmldb-spark-bench"

# every metric with its unit; BENCHMARK.json lists the same names
END_TO_END = {"setup_s": "s", "turns_per_s": "turns/s"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.register_s": "s",
    "sources.read_bytes": "bytes",
    "sqlfe.build_s": "s",
    "sqlfe.build_jobs": "count",
    "operators.window.build_s": "s",
    "operators.window.build_jobs": "count",
    "operators.lastjoin.build_s": "s",
    "operators.lastjoin.build_jobs": "count",
    "operators.preagg.build_s": "s",
    "operators.preagg.build_jobs": "count",
    "catalyst.plan_s": "s",
    "jvm.exec_s": "s",
    "jvm.jobs": "count",
    "jvm.stages": "count",
    "jvm.tasks": "count",
    "jvm.task_s": "s",
    "jvm.shuffle_write_bytes": "bytes",
    "jvm.spill_bytes": "bytes",
    "python.run_s": "s",
    "python.arrow_in_bytes": "bytes",
    "python.arrow_out_bytes": "bytes",
    "python.groups": "count",
    "python.s_per_group": "s",
    "memory.peak_rss_mb": "MB",
    "check.oracle_s": "s",
    "trace.turns_per_s": "turns/s",
    "trace.unattributed_share": "ratio",
}


class Bench:
    def __init__(self, args, work: str, scale: float = 1.0):
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        shape = gen.scaled(gen.SHAPES[self.wl.shape], scale)
        self.input_dir, self.facts = gen.cached(
            shape, args.seed, os.path.join(HERE, ".cache"))
        self.tracer = Tracer(bool(args.trace))
        self.counters = None
        self.spark = None
        self.tables: dict = {}
        self.outputs: list[tuple[str, str, object]] = []  # (unit, step, out)
        self.counts: dict[str, dict] = {}   # job group -> Spark counters
        self.bad_units: set[str] = set()   # raised or failed the oracle
        self.attempted = 0
        self.requests = RequestSource(args.seed, pq.read_table(
            os.path.join(self.input_dir, "turns.parquet"),
            columns=["conv_id", "turn_idx", "ts_ms"]).to_pandas())
        self.peak_rss_mb = 0.0

    def run(self, seconds: float):
        """Every set-up, then the timed units, then stop Spark and wait
        for its JVM to exit. Returns (set-up times, unit walls,
        versions)."""
        # set-ups first: the timed units then run in a JVM that has
        # already been through SETUPS warm-up iterations
        setup_s = [self.setup(k) for k in range(SETUPS)]
        walls = self.timed(seconds)
        sc = self.spark.sparkContext
        versions = {"pyspark": self.spark.version,
                    "java": sc._jvm.System.getProperty("java.version"),
                    "python": sys.version.split()[0]}
        gateway = sc._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        return setup_s, walls, versions

    # ------------------------------------------------------------ set-up

    def setup(self, k: int) -> float:
        if self.spark is not None:
            self.spark.stop()
        self.tracer.iteration = f"setup{k}"
        t0 = time.perf_counter()
        with self.tracer.span("setup", "setup"):
            with self.tracer.span("get_spark", "session"):
                self.spark = get_spark(app_name=APP, extra_conf={
                    "spark.ui.showConsoleProgress": "false"})
            with self.tracer.span("register", "sources"):
                self._register()
            self.counters = SparkCounters(self.spark) if self.args.trace \
                else None
            self.run_unit(f"setup{k}")
        return time.perf_counter() - t0

    def _register(self):
        d = self.input_dir
        turns, updates = (
            self.spark.read.schema(schema).parquet(os.path.join(d, f))
            for f, schema in (("turns.parquet", gen.TURNS_SCHEMA),
                              ("updates.parquet", gen.UPDATES_SCHEMA)))
        self.tables = {
            "turns": turns,
            "updates": updates,
            "history": turns.select("conv_id", "turn_idx", "ts_ms", "value"),
        }

    # ------------------------------------------------------------- units

    def run_unit(self, label: str) -> float:
        """One job (every step built and its output written) or one
        request. Returns its wall time; a raising call counts as failed
        and returns NaN."""
        self.attempted += 1
        self.tracer.iteration = label
        gids: list[str] = []
        if self.wl.name == "request":
            row = self.requests.next()
            extra = (self.spark.createDataFrame([row], REQUEST_SCHEMA),)
        else:
            extra = ()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("unit", "job"):
                for step in self.wl.steps:
                    out = self._step(label, step, gids, *extra)
                    self.outputs.append(
                        (label, step.name, (row, out) if extra else out))
            wall = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - counted and reported
            self.bad_units.add(label)
            print(f"unit {label} raised {type(e).__name__}: {e}",
                  file=sys.stderr)
            wall = float("nan")
        for gid in gids:
            self.counts[gid] = self.counters.read(gid)
        return wall

    def _step(self, label, step, gids, *extra):
        """Build, (traced: force the plan,) then write or collect."""
        with self.tracer.span(step.name, "step"):
            with self._group(f"{label}:{step.name}:build", gids), \
                    self.tracer.span("build", step.layer):
                df = step.build(self.spark, self.tables, *extra)
            if self.args.trace:
                with self.tracer.span("plan", "catalyst"):
                    df._jdf.queryExecution().executedPlan()
            with self._group(f"{label}:{step.name}:exec", gids), \
                    self.tracer.span("execute", "exec"):
                if extra:
                    return df.collect()
                path = os.path.join(self.work, "out", label, step.name)
                df.write.mode("overwrite").parquet(path)
                return path

    def _group(self, gid, gids):
        if self.counters is None:
            return contextlib.nullcontext()
        gids.append(gid)
        return self.counters.group(gid)

    def timed(self, seconds: float) -> list[float]:
        """The workload's extra warm-up units, then units back to back
        until ``seconds`` have passed (at least one); a traced run
        samples the peak RSS meanwhile."""
        for i in range(self.wl.warmups):
            self.run_unit(f"warmup{i}")
        walls: list[float] = []
        pid = self.spark.sparkContext._gateway.proc.pid
        deadline = time.perf_counter() + seconds
        with RssSampler(pid) if self.args.trace else \
                contextlib.nullcontext() as rss:
            while not walls or time.perf_counter() < deadline:
                walls.append(self.run_unit(f"t{len(walls)}"))
        if rss is not None:
            self.peak_rss_mb = rss.peak_kb / 1024
        return walls

    # ------------------------------------------------------------- check

    def check(self) -> set[str]:
        """Compare every unit's output with DuckDB over the same parquet
        inputs; returns the labels of units with a wrong output."""
        con = duckdb.connect()
        for t in ("turns", "updates"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.input_dir, t)}.parquet')")
        bad: set[str] = set()
        with self.tracer.span("check", "check"):
            if self.wl.name == "request":
                self._check_requests(con, bad)
            else:
                steps = {s.name: s for s in self.wl.steps}
                expected = {}
                for label, name, path in self.outputs:
                    if name not in expected:
                        expected[name] = con.execute(steps[name].oracle).df()
                    got = con.execute(
                        f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
                    if not matches(got, expected[name], f"{label}:{name}"):
                        bad.add(label)
        con.close()
        return bad

    def _check_requests(self, con, bad: set) -> None:
        reqs = pd.DataFrame(
            [(i, *row) for i, (_, _, (row, _)) in enumerate(self.outputs)],
            columns=["req_id", "conv_id", "turn_idx", "ts_ms", "value"])
        con.register("requests", reqs)
        exp = con.execute(ORACLE_REQUEST).df()
        for i, (label, _, (_, rows)) in enumerate(self.outputs):
            got = pd.DataFrame([r.asDict() for r in rows])
            got.insert(0, "req_id", i)
            if not matches(got, exp[exp.req_id == i], label):
                bad.add(label)

    # ------------------------------------------------------------ layers

    def layer_metrics(self, walls: list[float]) -> dict:
        """Per-layer numbers of the timed units: the median over units of
        each layer's per-unit total."""
        spans = self.tracer.self_times()
        timed = sorted({s["iter"] for s in spans
                        if s["iter"] and s["iter"].startswith("t")},
                       key=lambda x: int(x[1:]))
        per_unit = [self._unit_layers(u, spans) for u in timed]
        names = sorted({k for d in per_unit for k in d})
        out = {k: statistics.median(d.get(k, 0.0) for d in per_unit)
               for k in names}
        first = {s["name"]: s["dur_s"] for s in spans
                 if s["iter"] == "setup0" and s["layer"] in
                 ("session", "sources")}
        out["session.start_s"] = first.get("get_spark", 0.0)
        out["sources.register_s"] = first.get("register", 0.0)
        groups = out.get("python.groups", 0.0)
        out["python.s_per_group"] = \
            out.get("python.run_s", 0.0) / groups if groups else 0.0
        out["check.oracle_s"] = sum(s["dur_s"] for s in spans
                                    if s["layer"] == "check")
        out["trace.turns_per_s"] = self.turns_per_unit() / \
            statistics.median(walls)
        out["memory.peak_rss_mb"] = self.peak_rss_mb
        # a layer the workload does not pass through reads 0
        return {k: out.get(k, 0.0) for k in PER_LAYER}

    def _unit_layers(self, unit: str, spans: list[dict]) -> dict:
        """Layer totals of one unit: span self times by layer, and the
        Spark counters of its job groups."""
        d: dict[str, float] = {}

        def add(k, v):
            d[k] = d.get(k, 0.0) + v

        steps = {s.name: s for s in self.wl.steps}
        layers = {s.layer for s in self.wl.steps}
        unattributed = 0.0
        for s in spans:
            if s["iter"] != unit:
                continue
            if s["layer"] == "step":
                unattributed = max(unattributed, s["self_s"] / s["dur_s"])
            elif s["layer"] in layers:
                add(f"{s['layer']}.build_s", s["self_s"])
            elif s["layer"] == "catalyst":
                add("catalyst.plan_s", s["self_s"])
            elif s["layer"] == "exec":
                add("jvm.exec_s", s["self_s"])
        d["trace.unattributed_share"] = unattributed
        for name, step in steps.items():
            for phase in ("build", "exec"):
                c = self.counts.get(f"{unit}:{name}:{phase}")
                if c is None:
                    continue
                if phase == "build":
                    add(f"{step.layer}.build_jobs", c["jobs"])
                add("jvm.jobs", c["jobs"])
                add("jvm.stages", c["stages"])
                add("jvm.tasks", c["tasks"])
                add("jvm.task_s", c["task_ms"] / 1000)
                add("jvm.shuffle_write_bytes", c["shuffle_write_bytes"])
                add("jvm.spill_bytes", c["spill_bytes"])
                add("sources.read_bytes", c["read_bytes"])
                add("python.run_s", c["run_s"])
                add("python.arrow_in_bytes", c["arrow_in_bytes"])
                add("python.arrow_out_bytes", c["arrow_out_bytes"])
            # one kernel call per conversation and pass; a request's
            # window runs over the whole stored history, so it too calls
            # the kernel once per conversation
            add("python.groups",
                step.kernel_passes * self.facts["conversations"])
        return d

    def turns_per_unit(self) -> int:
        return 1 if self.wl.name == "request" else self.facts["turns"]

    def step_split(self) -> list[dict]:
        """Per step, medians over the timed units: wall, build, plan,
        execution split into JVM and Python, unattributed self time, and
        the dominant layer."""
        spans = self.tracer.self_times()
        rows = []
        for step in self.wl.steps:
            recs = []
            for s in spans:
                if s["layer"] != "step" or s["name"] != step.name or \
                        not s["iter"].startswith("t"):
                    continue
                kids = {k["layer"]: k["dur_s"] for k in spans
                        if k["parent"] == s["id"]}
                cs = [self.counts.get(f"{s['iter']}:{step.name}:{p}", {})
                      for p in ("build", "exec")]
                task_s = sum(c.get("task_ms", 0) for c in cs) / 1000
                py_s = sum(c.get("run_s", 0.0) for c in cs)
                share = min(1.0, py_s / task_s) if task_s else 0.0
                ex = kids.get("exec", 0.0)
                recs.append({
                    "wall_s": s["dur_s"],
                    step.layer: kids.get(step.layer, 0.0),
                    "catalyst": kids.get("catalyst", 0.0),
                    "jvm": ex * (1 - share), "python": ex * share,
                    "unattributed": s["self_s"]})
            if not recs:
                continue
            med = {k: statistics.median(r[k] for r in recs)
                   for k in recs[0]}
            layers = {k: v for k, v in med.items()
                      if k not in ("wall_s", "unattributed")}
            med["dominant"] = max(layers, key=layers.get)
            rows.append({"step": step.name, **{
                k: (round(v, 4) if isinstance(v, float) else v)
                for k, v in med.items()}})
        return rows
