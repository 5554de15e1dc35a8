"""One benchmark run: drive a logical day and mart queries through the
engine's public entry points, check every output, report metrics.

A run models one day of a daily batch deployment, where each day's job
is a fresh driver process:

1. set-up: generate the run's seeded inputs, copy the two-day history
   warehouse (built once per engine version, see ``history_dir``), start
   the session and warm it with one aggregate over the history's mart;
2. day 3: fx → trends → tiki → analytics;
3. mart queries: one checked warm-up round, then a closed loop of
   rounds of the five classes with one client for ``--seconds``;
4. table checks; a traced run then also times the weekly
   ``maintenance_pipeline`` (compact + vacuum); metrics, shutdown.

Both workloads run the same steps and report every metric; they differ
in where set-up ends.  ``daily_small`` measures from day 3 on.
``mart_queries`` counts day 3 and the warm-up round as set-up (the day's
wall time still gives the day metrics) and performs no writes while it
measures its query loop.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter

import gen
import oracle
import queries
from spans import PLAN_BUILDERS, Tracer

SPEC = gen.Spec(days=3, history=2, products_per_day=1800, leaves_per_root=8, missing_fx_day=1)
WORKLOADS = {"daily_small": "day", "mart_queries": "queries"}  # name -> the phase set-up ends at
TABLES = ("fact_daily_snapshot", "dim_products", "dim_categories", "fact_google_trends",
          "staging_google_trends", "dim_exchange_rate", "mart_daily_analytics")
PIPELINES = {"fx": "fx_pipeline", "trends": "trends_pipeline", "tiki": "tiki_etl_pipeline",
             "analytics": "analytics_pipeline"}
DRIVER_MEMORY = "1g"  # a day is ~2,000 rows; the engine's 16g default is sized for large jobs
RUN_PY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/children", encoding="ascii") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def _tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; None while that percentile is not above p50."""
    n = len(values)
    if n <= 20:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


# -- session -------------------------------------------------------------


def start_session(work: str, app: str):
    """The engine's configured session on local[nproc], with the driver
    heap, temp and shuffle directories set from here."""
    from pyspark.sql import SparkSession
    from tiki_e_commerce_analytics_etl_spark import session

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{_nproc()}]")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
    )
    spark = session.configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


# -- the DAGs ------------------------------------------------------------


class Warehouse:
    """A data directory the DAGs run against, fed from generated inputs."""

    def __init__(self, inputs: str, data: str, state: str):
        self.inputs, self.data, self.state = inputs, data, state
        self.wh = os.path.join(data, "warehouse")
        self.quotes = gen.fx_quotes(inputs)

    def plan(self, ds: str):
        """(name, pipeline, params) for one logical day, in run order."""
        from tiki_e_commerce_analytics_etl_spark.pipelines import dags
        from tiki_e_commerce_analytics_etl_spark.plans import snapshot
        from tiki_e_commerce_analytics_etl_spark.sources import trends_csv

        quote = self.quotes.get(ds)

        def fx_fetch(url: str) -> dict:
            if quote is None:
                raise ConnectionError(f"no FX quote for {ds}")
            return quote

        def crawl_source(spark, day):
            return snapshot.read_raw(spark, gen.raw_path(self.inputs, day), multiline=False)

        def trends_fetch(spark, day, keywords):
            return trends_csv.read_trends_csv(spark, gen.trends_path(self.inputs, day))

        base = {"data_dir": self.data}
        return (
            ("fx", dags.fx_pipeline(self.state), {**base, "fx_fetch": fx_fetch}),
            ("trends", dags.trends_pipeline(self.state),
             {**base, "keywords": gen.KEYWORDS, "trends_fetch": trends_fetch}),
            ("tiki", dags.tiki_pipeline(self.state), {**base, "crawl_source": crawl_source}),
            ("analytics", dags.analytics_pipeline(self.state),
             {**base, "keyword_mapping_path": gen.mapping_path(self.inputs)}),
        )


def _history_sources(root: str) -> list[str]:
    """Every file whose code shapes the history warehouse: the engine
    that writes it, the generator and the day plan here."""
    engine = os.path.join(root, "tiki_e_commerce_analytics_etl_spark")
    found = [os.path.join(d, f) for d, _, fs in os.walk(engine) for f in fs if f.endswith(".py")]
    return sorted(found) + [os.path.abspath(gen.__file__), os.path.abspath(__file__)]


def history_dir(root: str, spec: gen.Spec) -> str:
    """One history per spec and code version, so that two versions of
    the engine run in the same checkout never share a history."""
    h = hashlib.sha256(repr(spec).encode())
    for path in _history_sources(root):
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return os.path.join(root, ".dailybench", f"history-{h.hexdigest()[:12]}")


def build_history(root: str, spec: gen.Spec) -> int:
    """Run the ``spec.history`` seed-independent days through the DAGs
    in this process and keep the resulting warehouse for every later
    run in this checkout.  Returns a process exit code."""
    final = history_dir(root, spec)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    inputs = os.path.join(tmp, "inputs")
    truth = gen.generate(inputs, spec, gen.BASE_SEED, range(spec.history))
    spark = start_session(tmp, "dailybench-history")
    try:
        wh = Warehouse(inputs, os.path.join(tmp, "data"), os.path.join(tmp, "state"))
        for ds in truth.days[: spec.history]:
            for name, pipeline, params in wh.plan(ds):
                bad = {t: r.error for t, r in pipeline.run(ds=ds, spark=spark, params=params).items()
                       if r.state != "success"}
                if bad:
                    print(f"[dailybench] history day {ds} {name} failed: {bad}", file=sys.stderr)
                    return 1
    finally:
        stop_session(spark)
    try:
        os.rename(wh.wh, final)
    except OSError:
        if not os.path.isdir(final):
            raise
    shutil.rmtree(tmp, ignore_errors=True)
    return 0


# -- one run -------------------------------------------------------------


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, root: str,
                 t0: float, spec: gen.Spec = SPEC):
        self.name, self.measured_from = workload, WORKLOADS[workload]
        self.seed, self.seconds, self.t0, self.root, self.spec = seed, seconds, t0, root, spec
        self.work = os.path.join(root, ".dailybench", f"run-{workload}-{seed}-{os.getpid()}")
        self.trace_path = os.path.join(root, ".dailybench", "traces", f"{workload}-seed{seed}.jsonl")
        self.tracer = Tracer() if traced else None
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.days: list[dict] = []
        self.queries: list[dict] = []
        self.build_s = self.setup_s = 0.0
        self.digest: dict[str, str] = {}
        self.spark = None

    def _count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def _count_tasks(self, ds: str, pipeline: str, results: dict) -> None:
        for task, res in results.items():
            self._count(res.state == "success", f"{ds} {pipeline}.{task}: {res.state} {res.error or ''}")

    def ensure_history(self) -> str:
        """The history warehouse, built in a child process on first use
        so that this run's JVM stays cold."""
        path = history_dir(self.root, self.spec)
        if not os.path.isdir(path):
            start = time.perf_counter()
            cmd = [sys.executable, RUN_PY, "--build-history", json.dumps(dataclasses.asdict(self.spec))]
            if subprocess.run(cmd, stdout=sys.stderr, check=False).returncode or not os.path.isdir(path):
                raise RuntimeError("building the history warehouse failed")
            self.build_s = time.perf_counter() - start
        return path

    def warm_session(self) -> None:
        """Pay Spark's first-job costs (class loading, scheduler and
        codegen start-up, the parquet reader) in set-up, not in day 3's
        first pipeline: one checked aggregate over the history's mart."""
        from tiki_e_commerce_analytics_etl_spark import acid

        hist = oracle.MartTruth(self.truth, self.truth.days[: self.spec.history])
        df = acid.read_atomic(self.spark, os.path.join(self.wh.wh, "mart_daily_analytics"))
        got = {r[0]: r[1] for r in df.groupBy("category_name").count().collect()}
        want = dict(Counter(r["category"] for ds in hist.days for r in hist.rows[ds]))
        self._count(got == want, f"warm-up category counts: got {got!r}, want {want!r}")

    # -- the measured day ----------------------------------------------

    def _job_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        else:
            sc.setJobGroup(group, group)

    def _jobs_stages(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        infos = [st.getJobInfo(j) for j in jobs]
        return len(jobs), sum(len(i.stageIds) for i in infos if i is not None)

    def run_day(self, ds: str) -> None:
        op = f"day:{ds}"
        if self.tracer:
            self.tracer.op = op
        day = {"ds": ds, "results": {}, "jobs": 0, "stages": 0}
        start = time.perf_counter()
        for name, pipeline, params in self.wh.plan(ds):
            if self.tracer:
                self._job_group(f"{op}:{name}")
            day["results"][name] = pipeline.run(ds=ds, spark=self.spark, params=params)
            if self.tracer:
                self._job_group(None)
                jobs, stages = self._jobs_stages(f"{op}:{name}")
                day["jobs"] += jobs
                day["stages"] += stages
        day["wall"] = time.perf_counter() - start
        self.days.append(day)
        for name, results in day["results"].items():
            self._count_tasks(ds, name, results)
        if self.tracer:
            self.tracer.op = "checks"
        for name, ok, detail in oracle.check_day(self.spark, self.wh.wh, oracle.MartTruth(self.truth, [ds]), ds):
            self._count(ok, f"{name} {detail}")

    def run_maintenance(self, ds: str) -> None:
        """The weekly compact + vacuum; timed in traced runs only, after
        every output check, so that untraced runs stay short."""
        from tiki_e_commerce_analytics_etl_spark.pipelines import dags

        self.tracer.op = "maintenance"
        results = dags.maintenance_pipeline(self.wh.state).run(
            ds=ds, spark=self.spark, params={"data_dir": self.wh.data})
        self._count_tasks(ds, "maintenance", results)

    # -- queries -------------------------------------------------------

    def _live_files(self, table: str) -> int:
        from tiki_e_commerce_analytics_etl_spark import acid

        return len(acid.snapshot_files(os.path.join(self.wh.wh, table)))

    def run_query(self, op: str, cls: str, params: dict, timed: bool = True):
        """Build and collect one query: its rows, or None if it raised."""
        if self.tracer:
            self.tracer.op = op
            span = self.tracer.open(f"query.{cls}")
        start = time.perf_counter()
        try:
            df = queries.build(self.spark, self.wh.wh, cls, params)
            built = time.perf_counter()
            rows = df.collect()
            done = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a raising query is a failed operation
            self._count(False, f"query {cls} {params}: {exc!r}")
            return None
        finally:
            if self.tracer:
                self.tracer.close(span)
        q = {"cls": cls, "plan": built - start, "exec": done - built, "latency": done - start}
        if self.tracer and timed:
            q["scan_files"] = len(df.inputFiles())
            q["live_files"] = self._live_files("mart_daily_analytics") + (
                self._live_files("fact_google_trends") if cls == "trend_price" else 0)
            q["read_s"] = sum(s.duration for s in self.tracer.spans[span + 1:]
                              if s.name == "acid.read_atomic")
        if timed:
            self.queries.append(q)
        return rows

    def check_query(self, cls: str, params: dict, rows) -> None:
        if rows is None:  # raised, already counted
            return
        got = queries.normalize(cls, rows)
        want = queries.expected(cls, params, self.mart, self.trends)
        self._count(got == want, f"query {cls} {params}: got {got!r}, want {want!r}")

    def _round(self):
        """One seeded round: each class once, in shuffled order."""
        for cls in self.rng.sample(queries.CLASSES, len(queries.CLASSES)):
            yield cls, queries.pick_params(self.rng, cls, self.mart)

    def warm_up(self) -> None:
        """One round whose answers are checked but not timed: the first
        run of each query shape pays planning, codegen and JIT once per
        driver, which would otherwise dominate the spread of a short run."""
        self.rng = random.Random(f"queries:{self.seed}")
        self.mart = oracle.MartTruth(self.truth, self.truth.days)
        self.trends = {k: s for k, (s, _) in oracle.trends_state(self.truth, self.truth.days).items()}
        for i, (cls, params) in enumerate(self._round()):
            self.check_query(cls, params, self.run_query(f"warmup:{i}", cls, params, timed=False))

    def run_queries(self) -> None:
        """A closed loop that stops at the first round boundary past
        --seconds.  The answers are checked after the clock stops, so
        the oracle's work is not timed."""
        deadline = time.perf_counter() + self.seconds
        answers = []
        self.round_walls: list[float] = []
        i = 0
        while i == 0 or time.perf_counter() < deadline:
            start = time.perf_counter()
            for cls, params in self._round():
                answers.append((cls, params, self.run_query(f"query:{i}", cls, params)))
                i += 1
            self.round_walls.append(time.perf_counter() - start)
        for cls, params, rows in answers:
            self.check_query(cls, params, rows)

    # -- the run -------------------------------------------------------

    def execute(self, digest: bool = False) -> dict:
        history = self.ensure_history()
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            inputs = os.path.join(self.work, "inputs")
            ds = gen.day_str(self.spec.history)  # the measured day follows the history
            self.truth = gen.generate(inputs, self.spec, self.seed, [self.spec.history])
            data = os.path.join(self.work, "data")
            # copyfile, not copy2: fresh mtimes, so vacuum's grace clock
            # sees the same history however long ago it was built
            shutil.copytree(history, os.path.join(data, "warehouse"), copy_function=shutil.copyfile)
            self.spark = start_session(self.work, f"dailybench-{self.name}")
            self.wh = Warehouse(inputs, data, os.path.join(self.work, "state"))
            self.warm_session()
            if self.tracer:
                self.tracer.install()
            if self.measured_from == "day":
                self.setup_s = time.perf_counter() - self.t0 - self.build_s
            self.run_day(ds)
            self.warm_up()
            if self.measured_from == "queries":
                self.setup_s = time.perf_counter() - self.t0 - self.build_s
            self.run_queries()
            if self.tracer:
                self.tracer.op = "checks"
            for name, ok, detail in oracle.check_tables(self.spark, self.wh.wh, self.truth):
                self._count(ok, f"{name} {detail}")
            if digest:
                self.digest = oracle.digest_tables(self.spark, self.wh.wh, TABLES)
            if self.tracer:
                self.run_maintenance(ds)
            self.report()
            metrics = self.per_layer() if self.tracer else self.end_to_end()
            if self.tracer:
                self.tracer.uninstall()
                self.tracer.write(self.trace_path)
            return metrics
        finally:
            if self.spark is not None:
                stop_session(self.spark)
            shutil.rmtree(self.work, ignore_errors=True)

    # -- metrics -------------------------------------------------------

    def _day_p50(self) -> float:
        return statistics.median(d["wall"] for d in self.days)

    def _query_p50_ms(self) -> float:
        return 1000.0 * statistics.median(q["latency"] for q in self.queries)

    def _queries_per_s(self) -> float:
        """Median over the timed rounds of each round's throughput, so a
        burst of host load in one round does not set the figure."""
        return statistics.median(len(queries.CLASSES) / w for w in self.round_walls)

    def peak_rss_mb(self) -> float:
        proc = _jvm_proc()
        jvm = sum(_vm_hwm_kb(p) for p in _descendants(proc.pid)) if proc is not None else 0
        py = _vm_hwm_kb("self")
        print(f"[dailybench] peak RSS: python {py / 1024:.0f} MB, JVM {jvm / 1024:.0f} MB", file=sys.stderr)
        return (py + jvm) / 1024.0

    def end_to_end(self) -> dict:
        raw_rows = sum(self.truth.raw_rows[d["ds"]] for d in self.days)
        return {
            "setup_s": (self.setup_s, "s"),
            "day_p50_s": (self._day_p50(), "s"),
            "rows_per_s": (raw_rows / sum(d["wall"] for d in self.days), "rows/s"),
            "query_p50_ms": (self._query_p50_ms(), "ms"),
            "queries_per_s": (self._queries_per_s(), "1/s"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
            "warehouse_mb": (_dir_bytes(self.wh.wh) / 2**20, "MB"),
        }

    def _xcom(self, pipeline: str, ds: str, task: str):
        with open(os.path.join(self.wh.state, f"{pipeline}__{ds}.json"), encoding="utf-8") as f:
            return json.load(f)[task]["xcom"]

    def per_layer(self) -> dict:
        from tiki_e_commerce_analytics_etl_spark import acid

        tr = self.tracer
        n = len(self.days)
        ops = {f"day:{d['ds']}" for d in self.days}
        in_days = [(i, s) for i, s in enumerate(tr.spans) if s.op in ops]

        def total(name: str) -> float:
            return sum(s.duration for _, s in in_days if s.name == name) / n

        pipelines = {i: s for i, s in in_days if s.name.startswith("pipeline.")}
        tasks = [s for _, s in in_days if s.name.startswith("task.") and s.parent in pipelines]
        commits = [s for _, s in in_days if s.name == "acid.atomic_overwrite_partitions"]
        merges = [s for s in commits if s.attrs.get("merge")]
        merge_sources = sum(s.attrs.get("source_rows") or 0 for _, s in in_days
                            if s.name in ("merge_upsert", "upsert_trends"))
        ran = [s for s in tasks if s.attrs.get("attempts")]
        days = [d["ds"] for d in self.days]
        rows_in = sum(self._xcom("tiki_etl_pipeline", ds, "crawl_tiki_products")["rows"] for ds in days)
        rows_out = sum(self._xcom("tiki_etl_pipeline", ds, "load_to_bigquery")["fact_daily_snapshot"]
                       for ds in days)
        mart_rows = sum(self._xcom("analytics_pipeline", ds, "build_daily_mart")["rows"] for ds in days)
        pipe_s = sum(s.duration for s in pipelines.values())
        gc_beans = (self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
                    .getGarbageCollectorMXBeans())
        m = {
            "runner.overhead_s": ((pipe_s - sum(s.duration for s in tasks)) / n, "s"),
            "runner.attempts_per_task": (sum(s.attrs["attempts"] for s in ran) / len(ran), "count"),
            "sources.land_s": (total("task.crawl_tiki_products"), "s"),
            "snapshot.transform_s": (total("task.transform_to_parquet"), "s"),
            "snapshot.rows_in": (rows_in / n, "rows"),
            "snapshot.rows_out": (rows_out / n, "rows"),
            "snapshot.keep_ratio": (rows_out / rows_in, "ratio"),
            "trends.transform_s": (total("task.transform_trends_data"), "s"),
            "trends.merge_s": (total("task.merge_to_fact"), "s"),
            "merge.s": (sum(s.duration for s in merges) / n, "s"),
            "merge.rewrite_ratio": (sum(s.attrs["rows"] for s in merges) / merge_sources, "ratio"),
            "acid.commit_s": (sum(s.duration for s in commits) / n, "s"),
            "acid.commits": (len(commits) / n, "count"),
            "acid.files_written": (sum(s.attrs["files"] for s in commits) / n, "count"),
            "acid.bytes_written": (sum(s.attrs["bytes"] for s in commits) / n, "bytes"),
            "acid.read_s": (total("acid.read_atomic"), "s"),
            "acid.maintenance_s": (sum(s.duration for s in tr.spans
                                       if s.name == "pipeline.maintenance_pipeline"), "s"),
            "golden_join.s": (total("task.build_daily_mart"), "s"),
            "golden_join.rows": (mart_rows / n, "rows"),
            "quality.s": (total("run_checks"), "s"),
            "spark.jobs_per_day": (sum(d["jobs"] for d in self.days) / n, "count"),
            "spark.stages_per_day": (sum(d["stages"] for d in self.days) / n, "count"),
            "jvm.gc_s": (sum(max(0, b.getCollectionTime()) for b in gc_beans) / 1000.0, "s"),
            "day.accounted_share": (pipe_s / sum(d["wall"] for d in self.days), "ratio"),
        }
        for short, full in PIPELINES.items():
            m[f"pipeline.{short}_s"] = (total(f"pipeline.{full}"), "s")
        for cls in queries.CLASSES:
            lat = [q["latency"] for q in self.queries if q["cls"] == cls]
            m[f"query.{cls}.ms"] = (1000.0 * statistics.median(lat), "ms")
        for key, name in (("plan", "plan"), ("exec", "exec"), ("read_s", "read")):
            m[f"query.{name}_ms"] = (1000.0 * statistics.median(q[key] for q in self.queries), "ms")
        m["query.scan_ratio"] = (sum(q["scan_files"] for q in self.queries)
                                 / sum(q["live_files"] for q in self.queries), "ratio")
        for t in TABLES:
            hist = acid.table_history(os.path.join(self.wh.wh, t))
            m[f"acid.live_files.{t}"] = (hist[0]["n_files"], "count")
            m[f"acid.versions.{t}"] = (len(hist), "count")
        m["trace.day_p50_s"] = (self._day_p50(), "s")
        m["trace.query_p50_ms"] = (self._query_p50_ms(), "ms")
        m["trace.bookkeeping_ms"] = (1000.0 * tr.bookkeeping_s, "ms")
        return m

    def report(self) -> None:
        """Readable detail on stderr: days, sample counts, tails, self times."""
        out = sys.stderr
        if self.build_s:
            print(f"[dailybench] built the history warehouse in {self.build_s:.1f}s", file=out)
        for d in self.days:
            parts = " ".join(f"{k}={sum(r.duration for r in v.values()):.2f}s"
                             for k, v in d["results"].items())
            print(f"[dailybench] day {d['ds']} {d['wall']:.2f}s  {parts}", file=out)
        print(f"[dailybench] setup {self.setup_s:.2f}s; {len(self.days)} measured day(s)", file=out)
        lat = [1000.0 * q["latency"] for q in self.queries]
        tail = _tail(lat)
        print(f"[dailybench] {len(lat)} queries, p50 {statistics.median(lat):.1f} ms, tail "
              + (f"p{tail[0]:.0f} {tail[1]:.1f} ms" if tail else "needs over 20 samples"), file=out)
        if self.tracer:
            agg: dict[str, float] = {}
            for s, own in zip(self.tracer.spans, self.tracer.self_times()):
                if s.op.startswith("day:"):
                    key = s.name + (" [plan-build]" if s.name in PLAN_BUILDERS else "")
                    agg[key] = agg.get(key, 0.0) + own
            for k, v in sorted(agg.items(), key=lambda kv: -kv[1]):
                print(f"[dailybench] self {k:48s} {v:8.3f}s", file=out)
        for f in self.failures[:20]:
            print(f"[dailybench] FAILED {f[:400]}", file=out)


def main(workload: str, seed: int, seconds: float, traced: bool, root: str, t0: float) -> int:
    run = Run(workload, seed, seconds, traced, root, t0)
    metrics = run.execute()
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0
