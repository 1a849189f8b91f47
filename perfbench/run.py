"""dfx benchmark: one workload, closed loop, one client, in this process.

    python3 perfbench/run.py --workload tabular --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run generates its inputs into a
temporary directory under the root, sets up the engine (imports,
``session.get_spark``, ``registry.all_queries``, warm-ups), then issues
the workload's steps one after another on ``local[2]``:

* a cold pass, which collects every output and checks it (registered
  queries against ``expected.json``, the preprocessing flow against a
  NumPy recomputation);
* warm passes until their wall time reaches ``--seconds`` (at least one),
  each step timed as build (query builder / facade call) plus run (noop
  sink).

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json`` and
their wall-clock twins.  Its times are CPU seconds of the whole process
tree (this client, the JVM, Spark's Python workers): on a virtual machine
whose host lends its cores to other guests, wall times of the same code
spread by a third between runs, CPU seconds by under a tenth.
``--trace 1`` alternates untraced and traced warm passes: traced passes
wrap the engine's catalog and MAT reader in spans, tag every job with a
``{workload}:{step}:{build|run}`` job group and read Spark's REST stage
counters after each step; it prints the per-layer metrics.  Either way
the last stdout line is one JSON object; a readable report precedes it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import datagen
import outputs
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
# JVM heap of the local-mode driver, fixed (-Xms = -Xmx) and touched at
# start.  With the engine's elastic 8g default the heap grows wherever
# garbage-collector ergonomics take it, and an untouched fixed heap becomes
# resident wherever the collector happens to place objects: either swung
# peak_rss_mb by a fifth between identical runs.  A resident fixed heap
# leaves the workers and off-heap memory to vary.
DRIVER_MEM = "2g"


def repo_root() -> str:
    return os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(repo_root(), "BENCHMARK.json")) as f:
        return json.load(f)


def cores() -> int:
    """Spark's task slots: two, or one on a single-core machine.  The
    workloads are per-job overhead on small tables, so they run as fast on
    two slots as on four, and the spare cores keep the JVM's compiler and
    collector threads and the Python workers off the task threads."""
    return min(2, len(os.sched_getaffinity(0)))


def prepare_env(root: str, tmp: str) -> None:
    """Make ``dataframework_spark`` importable here and in Spark's Python
    workers (a pandas UDF unpickles engine functions in the worker, whatever
    its working directory), and keep every scratch path of the JVM and its
    workers inside ``tmp``."""
    if root not in sys.path:
        sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir
    # says.  Two parallel collector threads, not one per core: collector
    # threads that wait on a stalled sibling burn CPU time.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()


def start_spark(tmp: str, app_name: str):
    """The engine's own session factory on every core of this machine."""
    from dataframework_spark.session import get_spark

    return get_spark(
        app_name=app_name,
        cpus=cores(),
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def table_dir(tmp: str) -> str:
    """Where the generated tables go.  The engine's sink queries keep their
    scratch output under ``{root}/.scratch/{basename}``, so the basename is
    unique per process (and a valid table-name fragment)."""
    return os.path.join(tmp, f"sf{workloads.TABLE_SF}_{os.getpid()}")


def remove_scratch(root: str, data_dir: str) -> None:
    scratch = os.path.join(root, ".scratch")
    shutil.rmtree(os.path.join(scratch, os.path.basename(data_dir)), ignore_errors=True)
    if os.path.isdir(scratch) and not os.listdir(scratch):
        os.rmdir(scratch)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def layer_of(spec) -> str:
    """A query's layer is the dfx module it is registered in."""
    return spec.fn.__module__.removeprefix("dataframework_spark.")


# Step spans whose time counts as build (the rest of a pass's steps, bar
# cleanup, are runs).
BUILD_STEPS = {"sources.matlab.mat_to_long_df", "facade.engine_init", "facade.param_grid"}
CLEANUP = "benchmark.cleanup"
REST = "trace.rest"


def is_build(name: str) -> bool:
    return name in BUILD_STEPS or name.endswith("build")


class Runner:
    def __init__(self, args, root: str, tmp: str):
        self.args, self.root, self.tmp = args, root, tmp
        self.wl = args.workload
        # The untraced run times every span in CPU seconds as well.
        self.tracer = tracing.Tracer(f"{self.wl}:{args.seed}:{args.trace}",
                                     None if args.trace else tracing.tree_cpu_s)
        self.rng = random.Random(args.seed)
        self.attempted = self.failed = 0
        self.traced = False  # true while a traced pass runs
        self.stats: dict[str, tracing.StageStats] = {}  # layer -> counters, this pass
        self.group = None
        self.pass_stats: dict[int, dict[str, tracing.StageStats]] = {}
        self.spark = None
        self.step_s: list[float] = []  # build + run of each untraced warm step
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)

    # -- inputs (untimed) ---------------------------------------------------

    def generate_inputs(self) -> None:
        self.data_dir = table_dir(self.tmp)
        rows = datagen.write_tables(self.data_dir, workloads.TABLE_SF, workloads.TABLE_SEED)
        self.input_rows = sum(rows[t] for t in workloads.TABLES[self.wl])
        self.queries = [q for q in workloads.QUERIES[self.wl] if q in self.expected["queries"]]
        if self.wl in workloads.REFERENCE_FLOW:
            xs, rs = datagen.mat_arrays(
                self.args.seed, workloads.MAT_CLASSES, workloads.MAT_SAMPLES, workloads.MAT_DIMS
            )
            self.mat_path = os.path.join(self.tmp, "database.mat")
            datagen.write_mat_database(self.mat_path, xs, rs)
            self.input_rows += sum(len(x) for x in xs)
            self.flow = outputs.FlowCheck(
                xs, workloads.KEY_STRIDE, workloads.PROCESS["cv"], workloads.PROCESS["train"]
            )
            self.replicate = self.args.seed % 1000

    # -- set-up (timed) -----------------------------------------------------

    def setup(self) -> tracing.Span:
        span = self.tracer.span
        with span("setup") as s:
            with span("import"):
                import dataframework_spark.registry as registry
            with span("session.get_spark"):
                self.spark = start_spark(self.tmp, f"dfx-perfbench-{self.wl}")
            with span("registry.all_queries"):
                self.specs = registry.all_queries()
            with span("warmup"):
                sp = self.spark
                sp.range(1000).selectExpr("sum(id)").collect()
                sp.read.parquet(os.path.join(self.data_dir, "nation.parquet")).groupBy(
                    "n_regionkey"
                ).count().write.format("noop").mode("overwrite").save()
                if self.wl in workloads.PYTHON_WORKERS:
                    sp.range(64).toDF("x").mapInPandas(lambda it: it, "x bigint").write.format(
                        "noop"
                    ).mode("overwrite").save()
        return s

    # -- job groups and counters (traced passes only) -----------------------

    def set_group(self, group: str | None) -> None:
        self.group = group
        if group is None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.spark.sparkContext.setJobGroup(group, group)

    def count(self, layer: str, groups: dict[str, str]) -> None:
        """Add the counters of ``groups`` ({phase: group}) to ``layer``."""
        with self.tracer.span(REST):
            self.counters.drain()
            for phase, group in groups.items():
                st = self.counters.group(group)
                self.stats.setdefault(f"{layer}:{phase}", tracing.StageStats()).add(st)

    def instrument(self) -> None:
        """Wrap ``catalog.load_table`` (as bound in every engine module) and
        ``sources.matlab.read_mat`` in spans; jobs launched inside
        ``load_table`` go to a ``{workload}:{step}:catalog`` group."""
        import dataframework_spark.catalog as catalog
        import dataframework_spark.sources.matlab as matlab

        original, runner = catalog.load_table, self

        def load_table(*a, **kw):
            if not runner.traced or runner.group is None:
                return original(*a, **kw)
            outer = runner.group
            runner.set_group(outer.rsplit(":", 1)[0] + ":catalog")
            try:
                with runner.tracer.span("catalog.load_table"):
                    return original(*a, **kw)
            finally:
                runner.set_group(outer)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("dataframework_spark") and getattr(
                mod, "load_table", None
            ) is original:
                mod.load_table = load_table
        read_mat = matlab.read_mat

        def traced_read_mat(*a, **kw):
            if not runner.traced:
                return read_mat(*a, **kw)
            with runner.tracer.span("sources.matlab.read_mat"):
                return read_mat(*a, **kw)

        matlab.read_mat = traced_read_mat

    # -- steps ----------------------------------------------------------------

    def step(self, layer, key, build, run=None, check=None, spans=None):
        """One closed-loop step: ``build()`` returns what ``run(built,
        collect)`` executes; ``check(result)`` returns a list of problems
        (cold pass only).  ``spans`` names the build and run spans.
        Returns what ``build`` returned, or None if the step raised."""
        build_span, run_span = spans or (f"{layer}.build", f"{layer}.exec")
        span = self.tracer.span
        self.attempted += 1
        start = time.perf_counter()
        built = None
        try:
            if self.traced:
                self.set_group(f"{self.wl}:{key}:build")
            with span(build_span):
                built = build()
            if run is not None:
                if self.traced:
                    self.set_group(f"{self.wl}:{key}:run")
                with span(run_span):
                    result = run(built, check is not None)
                problems = check(result) if check is not None else []
                if problems:
                    self.fail(key, "; ".join(problems))
            if check is None and not self.traced:
                self.step_s.append(time.perf_counter() - start)
        except Exception:
            self.fail(key, traceback.format_exc(limit=3))
            built = None
        finally:
            if self.traced:
                self.set_group(None)
                self.count(layer, {p: f"{self.wl}:{key}:{p}" for p in ("build", "run", "catalog")})
        return built

    def fail(self, key: str, why: str) -> None:
        self.failed += 1
        print(f"FAILED {self.wl}:{key}: {why.strip()}", file=sys.stderr)

    @staticmethod
    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def query_step(self, name: str, check: bool) -> None:
        spec = self.specs[name]

        def run(df, collect):
            if collect:
                return outputs.spark_hash(df)
            self.noop(df)

        def verify(result):
            want = self.expected["queries"][name]
            got_hash, got_rows = result
            if got_hash == want["hash"]:
                return []
            return [f"value hash {got_hash} ({got_rows} rows), expected {want['hash']} "
                    f"({want['rows']} rows)"]

        self.step(layer_of(spec), name, lambda: spec.fn(self.spark, self.data_dir), run,
                  verify if check else None)
        with self.tracer.span(CLEANUP):
            self.spark.catalog.clearCache()

    def flow_steps(self, check: bool) -> None:
        """The reference flow: MAT decode -> parquet -> PreProcessEngine ->
        generator -> every CV fold -> ParamGrid."""
        from pyspark.sql import functions as F

        from dataframework_spark.facade import ParamGrid, PreProcessEngine
        from dataframework_spark.sources.matlab import mat_to_long_df

        db_path = os.path.join(self.tmp, "mat_db.parquet")
        config = {
            "database": {"name": "mat_db", "root": self.tmp, "key": "vec_id",
                         "label": "label", "features": "features"},
            "process": dict(workloads.PROCESS),
        }

        def write(df, _):
            df.withColumn(
                "vec_id", F.col("label") * workloads.KEY_STRIDE + F.col("sample_id")
            ).write.mode("overwrite").parquet(db_path)
            self.write_bytes = dir_bytes(db_path)

        self.step("sources.matlab", "mat", lambda: mat_to_long_df(self.spark, self.mat_path),
                  write, spans=("sources.matlab.mat_to_long_df", "sources.write"))
        eng = self.step("facade.engine_init", "engine_init",
                        lambda: PreProcessEngine(self.spark, config),
                        spans=("facade.engine_init", None))
        if eng is None:
            return

        def pair_run(cols):
            def run(pair, collect):
                if collect:
                    return [[tuple(r) for r in df.select(*cols).collect()] for df in pair]
                for df in pair:
                    self.noop(df)
            return run

        self.step(
            "facade.generator", "generator",
            lambda: eng.generator(no=self.replicate),
            pair_run(["vec_id", "label", "fold", "features"]),
            (lambda res: self.flow.check_split(self.replicate, *res)) if check else None,
            spans=("facade.generator_build", "facade.generator_exec"),
        )
        for fold in range(workloads.PROCESS["cv"]):
            self.step(
                "facade.get_cv_data", f"cv{fold}",
                lambda fold=fold: eng.get_cv_data(fold),
                pair_run(["vec_id", "label", "features"]),
                (lambda res, fold=fold: self.flow.check_fold(fold, *res)) if check else None,
                spans=("facade.get_cv_data_build", "facade.get_cv_data_exec"),
            )

        def grid_check(res):
            grid, rows = res
            want = math.prod(len(v) for v in workloads.PARAM_GRID.values())
            got = sorted(tuple(r[n] for n in grid.names) for r in rows)
            kron = sorted(tuple(grid.row(i)[n] for n in grid.names) for i in range(len(grid)))
            return [] if len(rows) == len(grid) == want and got == kron else ["param grid differs"]

        self.step("facade.param_grid", "param_grid",
                  lambda: ParamGrid(self.spark, workloads.PARAM_GRID),
                  lambda grid, _: (grid, grid.df.collect()),
                  grid_check if check else None,
                  spans=("facade.param_grid", "facade.param_grid_exec"))

    # -- passes ---------------------------------------------------------------

    def one_pass(self, check: bool, traced: bool) -> tracing.Span:
        """Every step once: the cold (checking) pass in list order, so its
        first-use costs land on the same steps every run; warm passes in
        a seeded random order."""
        self.traced, self.stats = traced, {}
        order = list(self.queries)
        if not check:
            self.rng.shuffle(order)
        with self.tracer.span("pass") as p:
            if self.wl in workloads.REFERENCE_FLOW:
                self.flow_steps(check)
            for name in order:
                self.query_step(name, check)
        self.traced = False
        self.pass_stats[p.id] = self.stats
        return p

    def measure(self) -> dict:
        """A cold pass, then warm passes until their wall time reaches
        ``--seconds`` (at least one).  Traced runs alternate traced and
        untraced warm passes and count only the untraced ones."""
        cold = self.one_pass(check=True, traced=False)
        untraced, traced = [], []
        if self.args.trace:
            self.counters = tracing.SparkCounters(self.spark)
            self.instrument()
        while not untraced or sum(p.duration for p in untraced) < self.args.seconds:
            if self.args.trace:
                # alternate which side goes first so settling favours neither
                first = len(traced) % 2 == 0
                for t in (first, not first):
                    (traced if t else untraced).append(self.one_pass(check=False, traced=t))
            else:
                untraced.append(self.one_pass(check=False, traced=False))
        return {"cold": cold, "untraced": untraced, "traced": traced}

    # -- metrics --------------------------------------------------------------

    def pass_split(self, p: tracing.Span, clock: str) -> tuple[float, float]:
        """Build and run seconds of pass ``p`` by ``clock``, a span
        property: ``duration`` (wall) or ``cpu``."""
        build = run = 0.0
        for s in self.tracer.spans:
            if s.parent == p.id and s.name not in (CLEANUP, REST):
                if is_build(s.name):
                    build += getattr(s, clock)
                else:
                    run += getattr(s, clock)
        return build, run

    def end_to_end(self, setup: tracing.Span, passes: dict, peak_mb: float) -> dict:
        """Wall and CPU times of set-up, the cold pass and the median warm
        pass.  CPU seconds are those of the whole process tree (client,
        JVM, Python workers)."""
        warm, cold = passes["untraced"], passes["cold"]
        out = {"setup_s": (setup.cpu, 1), "setup_wall_s": (setup.duration, 1)}
        for clock, suffix in (("duration", "s"), ("cpu", "cpu_s")):
            splits = [self.pass_split(p, clock) for p in warm]
            e2e = statistics.median(getattr(p, clock) for p in warm)
            out |= {
                f"cold_pass_{suffix}": (getattr(cold, clock), 1),
                f"e2e_{suffix}": (e2e, len(warm)),
                f"build_{suffix}": (statistics.median(b for b, _ in splits), len(warm)),
                f"exec_{suffix}": (statistics.median(r for _, r in splits), len(warm)),
                f"rows_per_{suffix}": (self.input_rows / e2e, len(warm)),
            }
        return out | {
            "peak_rss_mb": (peak_mb, 1),
            "failed_frac": (self.failed / max(1, self.attempted), self.attempted),
        } | self.step_summary()

    def step_summary(self) -> dict:
        """Latency of one step (build + run) in the warm passes, with the
        tail percentile the sample count supports."""
        if not self.step_s:  # every warm step failed
            return {}
        summary = tracing.summarize(self.step_s)
        n = summary.pop("n")
        return {f"step_s.{k}" if k != "median" else "step_s": (v, n) for k, v in summary.items()}

    def per_layer(self, passes: dict) -> dict:
        spans = self.tracer.spans
        selfs = tracing.self_times(spans)
        children: dict[int, list[tracing.Span]] = {}
        for s in spans:
            children.setdefault(s.parent, []).append(s)

        def descendants(root: tracing.Span) -> list[tracing.Span]:
            out, todo = [], list(children.get(root.id, []))
            while todo:
                s = todo.pop()
                out.append(s)
                todo.extend(children.get(s.id, []))
            return out

        per_pass = []
        for p in passes["traced"]:
            m: dict[str, float] = {}
            for s in descendants(p):
                key = s.name + "_s"
                m[key] = m.get(key, 0.0) + selfs[s.id]
                if s.name == "catalog.load_table":
                    m["catalog.load_table_calls"] = m.get("catalog.load_table_calls", 0) + 1
            layers: dict[str, dict[str, tracing.StageStats]] = {}
            for k, st in self.pass_stats[p.id].items():
                layer, phase = k.split(":")
                layers.setdefault(layer, {})[phase] = st
            facade, catalog = tracing.StageStats(), 0
            for layer, ph in layers.items():
                build, run = ph.get("build", tracing.StageStats()), ph.get("run", tracing.StageStats())
                catalog += ph.get("catalog", tracing.StageStats()).jobs
                both = tracing.StageStats()
                both.add(build)
                both.add(run)
                if layer.startswith("facade."):
                    facade.add(both)
                    continue
                m[f"{layer}.build_jobs"] = build.jobs
                m[f"{layer}.exec_jobs"] = run.jobs
                m[f"{layer}.scan_bytes"] = both.scan_bytes
                m[f"{layer}.shuffle_bytes"] = both.shuffle_bytes
                m[f"{layer}.spill_bytes"] = both.spill_bytes
                m[f"{layer}.task_skew"] = both.task_skew
                m[f"{layer}.empty_task_frac"] = both.empty_task_frac
            m["catalog.jobs"] = catalog
            m["facade.jobs"] = facade.jobs
            m["facade.shuffle_bytes"] = facade.shuffle_bytes
            m["facade.empty_task_frac"] = facade.empty_task_frac
            attributed = sum(v for k, v in m.items() if k.endswith("_s"))
            m["trace.layer_sum_s"] = attributed - m.get(REST + "_s", 0.0)
            m["trace.unattributed_s"] = p.duration - attributed
            per_pass.append(m)

        keys = {k for m in per_pass for k in m}
        out = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in keys}
        for s in spans:
            if s.parent is not None and spans[s.parent].name == "setup":
                out[s.name + "_s"] = s.duration
        self.untraced_e2e = statistics.median(p.duration for p in passes["untraced"])
        out["trace.overhead_s"] = (
            statistics.median(p.duration for p in passes["traced"]) - self.untraced_e2e
        )
        out["sources.write_bytes"] = getattr(self, "write_bytes", 0)
        out["spark.gc_s"], out["spark.failed_tasks"] = self.counters.executors()
        return out


def report(title: str, rows: list[tuple[str, float, str, int]]) -> None:
    print(f"# {title}")
    for name, value, unit, n in rows:
        print(f"  {name:40s} {value:14.6g} {unit:6s} n={n}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.QUERIES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = repo_root()
    if not os.path.isfile(os.path.join(root, "dataframework_spark", "__init__.py")):
        print("perfbench: dataframework_spark not found beside perfbench/", file=sys.stderr)
        return 2
    spec = load_spec()
    metrics = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in metrics}

    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=root)
    prepare_env(root, tmp)
    runner = Runner(args, root, tmp)
    try:
        runner.generate_inputs()
        with tracing.RssSampler() as rss:
            setup = runner.setup()
            passes = runner.measure()
        title = f"{args.workload} seed={args.seed} cores={cores()} input_rows={runner.input_rows}"
        if args.trace:
            values, n = runner.per_layer(passes), len(passes["traced"])
            report(f"{title}: per-layer, median of {n} traced passes",
                   [(k, values.get(k, 0.0), u, n) for k, u in units.items()])
            print(f"# layer self times sum to {values['trace.layer_sum_s']:.3f} s per traced "
                  f"pass; untraced pass {runner.untraced_e2e:.3f} s; tracing overhead "
                  f"{values['trace.overhead_s']:.3f} s")
        else:
            e2e = runner.end_to_end(setup, passes, rss.peak_mb)
            units["failed_frac"] = "ratio"
            report(f"{title}: end to end",
                   [(k, v, units.get(k, "1/s" if k.startswith("rows") else "s"), n)
                    for k, (v, n) in e2e.items()])
            values = {k: v for k, (v, _) in e2e.items()}
        runner.tracer.dump(os.path.join(
            root, ".perfbench-out", f"{args.workload}-seed{args.seed}-trace{args.trace}.spans.jsonl"
        ))
    finally:
        if runner.spark is not None:
            stop_spark(runner.spark)
        shutil.rmtree(tmp, ignore_errors=True)
        remove_scratch(root, table_dir(tmp))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
