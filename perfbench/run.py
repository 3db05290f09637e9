#!/usr/bin/env python3
"""Engine benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repo root (or any checkout of it). The run

1. generates its input tables (perfbench/datagen.py) once per checkout,
   under perfbench/.state/, and derives everything else it varies --
   query order, micro-batch split, upsert slices -- from --seed;
2. starts the engine's tuned session (`session.get_spark`) on
   local[nproc] and warms it with one untimed pass over the workload,
   which also collects every output for the check;
3. times whole passes over the workload's operation list, starting
   another while less than --seconds have gone by; each call waits for
   the previous one;
4. checks the outputs against DuckDB, outside the timed loop;
5. prints a report line, then as the LAST line one JSON object:
   {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}.
   With --trace 0 the metrics are BENCHMARK.json's `end_to_end` ones;
   with --trace 1 the run spends half of --seconds on untraced passes
   and half on traced ones, with spans at the layer boundaries
   (perfbench/tracing.py), and reports the `per_layer` ones. Spans are
   written to perfbench/.state/traces/.

Workloads, the layer map and known gaps are in perfbench/spec.json.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
DRIVER_MEMORY = "2g"
WATCHDOG_S = 170  # a run that overruns ends without a result, in under 180 s


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over `pids`, from /proc."""
    kb = 0
    for pid in pids:
        with contextlib.suppress(OSError), open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (the `steal` column of /proc/stat); 0 where it is not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def nothing(*_a, **_k):
    return contextlib.nullcontext()


# ------------------------------------------------------------ engine access


class Engine:
    """The engine's public entry points, imported from the checkout."""

    def __init__(self):
        sys.path.insert(0, ROOT)
        try:
            from pyspark.sql import functions as F
            from iceberg_tracking_spark import session
            from iceberg_tracking_spark.plans import QUERIES
            from iceberg_tracking_spark.sources import catalog, tables
            from iceberg_tracking_spark.streaming import materialized
            from iceberg_tracking_spark.tracker import batch
        except ImportError as e:
            fail(f"cannot import the engine from {ROOT}: {e}")
        self.F = F
        self.session, self.QUERIES = session, QUERIES
        self.catalog, self.tables = catalog, tables
        self.materialized, self.tracker = materialized, batch


def job_stats(sc, group: str) -> dict:
    """Jobs, stages, tasks and rows read by the jobs of one job group,
    from the status tracker (skipped stages are not counted)."""
    from py4j.protocol import Py4JJavaError

    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = st.getJobIdsForGroup(group) if group else []
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0, "rows": 0}
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage already evicted from the store
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["rows"] += sd.inputRecords()
    return out


def attach_job_stats(sc, pass_span) -> None:
    """Job counts of each traced op of a pass, read after the pass so
    the status-tracker calls stay out of the op's wall time."""
    for s in pass_span.attrs.pop("ops", []):
        build = job_stats(sc, s.attrs.pop("build_group", None))
        exe = job_stats(sc, s.attrs.pop("exec_group", None))
        s.attrs.update(
            build_jobs=build["jobs"], jobs=exe["jobs"], stages=exe["stages"],
            tasks=exe["tasks"], failed_tasks=exe["failed_tasks"],
            rows_scanned=build["rows"] + exe["rows"],
        )


def add_phases(tracer, df, parent, only=None) -> None:
    """Catalyst phase timings of `df`'s QueryExecution as child spans."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        name = kv._1()
        if only is None or name in only:
            p = kv._2()
            tracer.add(f"catalyst.{name}", p.startTimeMs() / 1e3, p.endTimeMs() / 1e3, parent)


class Groups:
    """Job groups that attribute a traced call's jobs to it."""

    def __init__(self, sc):
        self.sc = sc
        self.n = 0

    @contextlib.contextmanager
    def group(self, kind: str):
        self.n += 1
        gid = f"perfbench-{kind}-{self.n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


# ------------------------------------------------------------ workloads


class QueryWorkload:
    """Registered queries; one op = build + execute + count."""

    def __init__(self, eng: Engine, spark, sf_dir: str, names: list[str]):
        self.eng, self.spark, self.sf_dir, self.names = eng, spark, sf_dir, names
        self.outputs: dict[str, object] = {}
        self.rows: dict[str, int] = {}
        self.errors: dict[str, str] = {}
        self.warm_ops: list[tuple[str, float]] = []
        self.groups = Groups(spark.sparkContext)

    def warm(self, rng: random.Random) -> None:
        """One untimed pass that warms the JVM and Python workers and
        keeps every output for the check."""
        for name in rng.sample(self.names, len(self.names)):
            t = time.perf_counter()
            try:
                pdf = self.eng.QUERIES[name].fn(self.spark, self.sf_dir).toPandas()
                self.outputs[name], self.rows[name] = pdf, len(pdf)
            except Exception as e:
                self.errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
            self.warm_ops.append((name, round(time.perf_counter() - t, 4)))

    def ops(self, rng: random.Random, _pass_no: int):
        return [(n, lambda tr, n=n: self.run(n, tr)) for n in rng.sample(self.names, len(self.names))]

    def run(self, name: str, tr) -> None:
        fn = self.eng.QUERIES[name].fn
        if tr is None:
            n = fn(self.spark, self.sf_dir).count()
        else:
            op = tr.current
            with self.groups.group("build") as gb:
                with tr.span("plans.build") as b:
                    df = fn(self.spark, self.sf_dir)
                add_phases(tr, df, b, only=("analysis",))
            with self.groups.group("exec") as gx:
                with tr.span("exec.count") as x:
                    cdf = df.groupBy().count()
                    n = cdf.collect()[0][0]
                add_phases(tr, cdf, x)
            op.attrs.update(build_group=gb, exec_group=gx)
        if name not in self.rows:
            raise RuntimeError(f"{name} failed in warm-up: {self.errors.get(name)}")
        if n != self.rows[name]:
            raise AssertionError(f"{name}: count {n} != {self.rows[name]} rows in its checked output")

    def after_pass(self, _pass_no: int) -> list[str]:
        return []

    def check(self) -> list[tuple[str, str | None]]:
        """(name, problem or None) per query, against its oracle SQL."""
        import checks

        con = checks.duck(self.sf_dir)
        out = []
        for name in self.names:
            if name in self.errors:
                out.append((name, self.errors[name]))
                continue
            try:
                want = con.execute(self.eng.QUERIES[name].oracle).fetchdf()
                out.append((name, checks.compare(self.outputs[name], want)))
            except Exception as e:
                out.append((name, f"oracle: {type(e).__name__}: {str(e)[:200]}"))
        return out

    def install_hooks(self, hooks) -> None:
        eng = self.eng
        mods = [m for k, m in sys.modules.items() if k.startswith("iceberg_tracking_spark") and m]
        hooks.wrap(eng.tables, "load_table", "sources.load_table", extra_owners=mods)
        self.captured = {}

        def capture(det, config=None):
            self.captured.update(det=det, config=config)

        hooks.wrap(eng.tracker, "track_sequences", "tracker.track_sequences", on_call=capture)

    def tracker_loop_s(self) -> float:
        """`track_one_sequence_pdf` run directly on the detections q_track
        built, collected once outside timing; median of 3 timings of the
        loop over all sequences."""
        if "det" not in self.captured:
            return 0.0
        pdf = self.captured["det"].toPandas()
        cfg = self.captured["config"] or self.eng.tracker.TrackerConfig()
        groups = [g.reset_index(drop=True) for _k, g in pdf.groupby("sequence", sort=True)]
        times = []
        for _ in range(3):
            t = time.perf_counter()
            for g in groups:
                self.eng.tracker.track_one_sequence_pdf(g, cfg)
            times.append(time.perf_counter() - t)
        return statistics.median(times)


class CatalogWorkload:
    """The write path: micro-batches of `events` folded by
    `make_merge_fn` into a VersionedTable rollup, each fold followed by
    a read and a time-travel read; periodic upserts of event slices into
    a second table keyed on event_id; one redelivered batch, which must
    be skipped; then compact and expire. Each pass starts from empty
    tables."""

    KEYS = ["user_id", "event_type"]
    APP = "perfbench"

    def __init__(self, eng: Engine, spark, sf_dir: str, cfg: dict, rng: random.Random, work: str):
        import pyarrow.parquet as pq

        self.eng, self.spark, self.sf_dir, self.work = eng, spark, sf_dir, work
        self.events_path = os.path.join(sf_dir, "events.parquet")
        n = pq.ParquetFile(self.events_path).metadata.num_rows
        b = cfg["batches"]
        self.bounds = [0, *sorted(rng.sample(range(1, n), b - 1)), n]
        n_up = b // cfg["upsert_every"]
        self.every = cfg["upsert_every"]
        size = cfg["upsert_rows"]
        self.slices = [(s, s + size - 1) for s in (rng.randrange(0, n - size) for _ in range(n_up))]
        self.replay = rng.randrange(0, b - 1)
        self.tables: dict[int, tuple] = {}
        self.stored_ratio: list[float] = []
        self.problems: list[str] = []
        self.events = eng.tables.load_table(spark, sf_dir, "events")
        self.groups = Groups(spark.sparkContext)

    def batch(self, i: int):
        F = self.eng.F
        lo, hi = self.bounds[i], self.bounds[i + 1]
        return self.events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))

    def slice(self, j: int):
        F = self.eng.F
        lo, hi = self.slices[j]
        return self.events.filter(F.col("event_id").between(lo, hi)).withColumn(
            "value", F.col("value") + F.lit(float(j + 1))
        )

    def warm(self, rng: random.Random) -> None:
        for _label, op in self.ops(rng, -1):
            op(None)
        self.after_pass(-1)

    def ops(self, _rng: random.Random, pass_no: int):
        base = os.path.join(self.work, f"pass{pass_no + 1}")
        shutil.rmtree(base, ignore_errors=True)
        VT = self.eng.catalog.VersionedTable
        rollup, ups = VT(os.path.join(base, "rollup")), VT(os.path.join(base, "upserts"))
        self.tables[pass_no] = (rollup, ups, base)
        merge = self.eng.materialized.make_merge_fn(rollup, self.KEYS, "value", self.APP)
        spark = self.spark

        def fold(i):
            def op(tr):
                with (tr.span if tr else nothing)("streaming.merge_fn"):
                    merge(self.batch(i), i)
            return op

        def count(table, version_of=None):
            def op(tr):
                v = None if version_of is None else version_of()
                df = table.read(spark, v)
                with (tr.span if tr else nothing)("exec.count"):
                    if df.count() <= 0:
                        raise AssertionError("empty read")
            return op

        def previous():
            return max(0, rollup.current_version() - 1)

        def upsert(j):
            return lambda tr: ups.upsert(self.slice(j), ["event_id"])

        def replay(tr):
            before = rollup.current_version()
            with (tr.span if tr else nothing)("streaming.merge_fn"):
                merge(self.batch(self.replay), self.replay)
            if rollup.current_version() != before:
                raise AssertionError(f"redelivered batch {self.replay} was committed again")

        def expire(tr):
            rollup.expire(keep_last=1)
            ups.expire(keep_last=1)

        def attributed(body):
            """In a traced pass, the op's jobs are counted as its exec jobs."""
            def op(tr):
                if tr is None:
                    return body(None)
                with self.groups.group("exec") as g:
                    tr.current.attrs["exec_group"] = g
                    body(tr)
            return op

        out = []
        for i in range(len(self.bounds) - 1):
            out += [
                ("catalog.merge", fold(i)),
                ("catalog.read", count(rollup)),
                ("catalog.read_version", count(rollup, previous)),
            ]
            if (i + 1) % self.every == 0:
                out.append(("catalog.upsert", upsert((i + 1) // self.every - 1)))
        out += [
            ("catalog.replay", replay),
            ("catalog.compact", lambda tr: rollup.compact(spark)),
            ("catalog.expire", expire),
        ]
        return [(label, attributed(op)) for label, op in out]

    def after_pass(self, pass_no: int) -> list[str]:
        """Check one pass's final tables against DuckDB (untimed)."""
        import checks

        rollup, ups, base = self.tables.pop(pass_no)
        con = checks.duck(self.sf_dir)
        want = con.execute(
            "SELECT user_id, event_type, SUM(value) AS sum_value, COUNT(*) AS n_events "
            "FROM events GROUP BY user_id, event_type"
        ).fetchdf()
        problems = []
        p = checks.compare(rollup.read(self.spark).toPandas(), want, keys=self.KEYS)
        if p:
            problems.append(f"rollup: {p}")
        con.execute("CREATE TABLE u AS SELECT * FROM events WHERE false")
        for j, (lo, hi) in enumerate(self.slices):
            src = (
                "SELECT event_id, ts, user_id, event_type, value + "
                f"{float(j + 1)!r} AS value, props FROM events WHERE event_id BETWEEN {lo} AND {hi}"
            )
            con.execute(f"DELETE FROM u WHERE event_id IN (SELECT event_id FROM ({src}))")
            con.execute(f"INSERT INTO u {src}")
        p = checks.compare(
            ups.read(self.spark).toPandas(), con.execute("SELECT * FROM u").fetchdf(), keys=["event_id"]
        )
        if p:
            problems.append(f"upserts: {p}")
        stored = sum(
            os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(base) for f in fs
        )
        self.stored_ratio.append(stored / os.path.getsize(self.events_path))
        self.manifest_bytes = sum(
            os.path.getsize(t._manifest_path()) for t in (rollup, ups)
            if os.path.exists(t._manifest_path())
        )
        self.problems += [f"pass {pass_no + 1}: {p}" for p in problems]
        shutil.rmtree(base, ignore_errors=True)
        return problems

    def check(self) -> list[tuple[str, str | None]]:
        return [("table-maintenance", "; ".join(self.problems) or None)]

    def install_hooks(self, hooks) -> None:
        VT = self.eng.catalog.VersionedTable
        for m in ("merge_aggregate", "upsert", "read", "compact", "expire"):
            hooks.wrap(VT, m, f"catalog.{m}")
        self.written = written = {"files": 0, "bytes": 0}

        def count_files(version, table, *_a, **_k):
            for r, _d, fs in os.walk(table._data_dir(version)):
                for f in fs:
                    if f.endswith(".parquet"):
                        written["files"] += 1
                        written["bytes"] += os.path.getsize(os.path.join(r, f))

        hooks.wrap(VT, "write", "catalog.write", on_return=count_files)


# ------------------------------------------------------------ measuring


def run_passes(wl, seconds: float, rng: random.Random, first_pass: int, tracer=None):
    """Whole passes until `seconds` have gone by (at least one; a pass in
    which every op failed ends the loop). Returns per pass
    {"pass_s", "ops": [(label, seconds, error or None)], "span"}."""
    passes = []
    t_begin = time.perf_counter()
    span = tracer.span if tracer else nothing
    while True:
        pass_no = first_pass + len(passes)
        ops = wl.ops(rng, pass_no)
        recs = []
        with span("pass", number=pass_no + 1) as ps:
            tp = time.perf_counter()
            for label, op in ops:
                t = time.perf_counter()
                err = None
                try:
                    with span("op", op=label) as o:
                        if tracer:
                            ps.attrs.setdefault("ops", []).append(o)
                        op(tracer)
                except Exception as e:
                    err = f"{type(e).__name__}: {str(e)[:300]}"
                recs.append((label, time.perf_counter() - t, err))
            pass_s = time.perf_counter() - tp
        if tracer:
            attach_job_stats(wl.spark.sparkContext, ps)
        problems = wl.after_pass(pass_no)
        passes.append({"pass_s": pass_s, "ops": recs, "span": ps, "problems": problems})
        elapsed = time.perf_counter() - t_begin
        if elapsed >= seconds or all(e for (_l, _s, e) in recs):
            return passes


def e2e_metrics(passes, setup_s: float, rss_mb: float) -> dict[str, float]:
    ops = [s for p in passes for (_l, s, _e) in p["ops"]]
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "op_p50_s": quantile(ops, 0.5),
        "op_p90_s": quantile(ops, 0.9),
        "peak_rss_mb": rss_mb,
    }


def catalog_metrics(passes) -> dict[str, float]:
    commits = [s for p in passes for (l, s, _e) in p["ops"]
               if l in ("catalog.merge", "catalog.upsert", "catalog.compact")]
    reads = [s for p in passes for (l, s, _e) in p["ops"]
             if l in ("catalog.read", "catalog.read_version")]
    return {
        "commit_p50_s": quantile(commits, 0.5) if commits else 0.0,
        "commit_p90_s": quantile(commits, 0.9) if commits else 0.0,
        "read_p50_s": quantile(reads, 0.5) if reads else 0.0,
    }


def layer_metrics(tracer, passes) -> dict[str, float]:
    """Per traced pass: inclusive time of each boundary, job counts, and
    each layer's self time; the median over traced passes is reported."""
    from tracing import by_root, self_times

    under = by_root(tracer.spans, [p["span"] for p in passes])
    rows = []
    for p in passes:
        spans = under[p["span"].id]
        selfs = self_times(spans)
        ops = [s for s in spans if s.name == "op"]
        op_wall = sum(s.seconds for s in ops)

        def total(name):
            return sum(s.seconds for s in spans if s.name == name)

        def attr(key):
            return sum(s.attrs.get(key, 0) for s in ops)

        def op_total(*labels):
            return sum(s for (l, s, _e) in p["ops"] if l in labels)

        layer_self = {}
        for s in spans:
            layer = "bench" if s.name == "op" else s.name.split(".")[0]
            layer_self[layer] = layer_self.get(layer, 0.0) + selfs[s.id]
        r = {
            "plans.build_s": total("plans.build"),
            "plans.build_jobs": attr("build_jobs"),
            "plans.build_share": total("plans.build") / op_wall if op_wall else 0.0,
            "catalyst.analysis_ms": 1e3 * total("catalyst.analysis"),
            "catalyst.optimization_ms": 1e3 * total("catalyst.optimization"),
            "catalyst.planning_ms": 1e3 * total("catalyst.planning"),
            "exec.count_s": total("exec.count"),
            "exec.jobs": attr("jobs"),
            "exec.stages": attr("stages"),
            "exec.tasks": attr("tasks"),
            "exec.failed_tasks": attr("failed_tasks"),
            "sources.load_table_s": total("sources.load_table"),
            "sources.rows_scanned": attr("rows_scanned"),
            "catalog.merge_s": op_total("catalog.merge"),
            "catalog.upsert_s": op_total("catalog.upsert"),
            "catalog.read_s": op_total("catalog.read", "catalog.read_version"),
            "catalog.compact_s": op_total("catalog.compact"),
            "catalog.expire_s": op_total("catalog.expire"),
            "trace.op_wall_s": op_wall,
            "trace.unattributed_share": layer_self.get("bench", 0.0) / op_wall if op_wall else 0.0,
        }
        for layer in LAYERS:
            r[f"self.{layer}_s"] = layer_self.get(layer, 0.0)
        rows.append(r)
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


LAYERS = ("bench", "plans", "catalyst", "exec", "sources", "tracker", "catalog", "streaming")


class Run:
    def __init__(self, args, bench: dict, spec: dict):
        self.args, self.bench, self.spec = args, bench, spec
        self.wcfg = spec["workloads"][args.workload]
        self.run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
        self.units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        self.jvm = None
        # A thread, not SIGALRM: the main thread can sit in native code
        # (a py4j call, a DuckDB query) where no Python signal handler runs.
        self.watchdog = threading.Timer(WATCHDOG_S, self.overrun)
        self.watchdog.daemon = True

    def overrun(self) -> None:
        """End an overrunning run without a result: stop the JVM (its
        Python workers go with it), then exit non-zero."""
        print(f"perfbench: run exceeded {WATCHDOG_S} s", file=sys.stderr, flush=True)
        if self.jvm is not None:
            self.jvm.kill()
            self.jvm.wait()
        shutil.rmtree(getattr(self, "tmp", ""), ignore_errors=True)
        os._exit(3)

    def environment(self) -> None:
        """Keep every file the run and its JVM/Python workers write inside
        the checkout; ship the package to the Python workers."""
        tmp = os.path.join(STATE, "tmp", self.run_id)
        os.makedirs(tmp, exist_ok=True)
        self.tmp = tmp
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)

    def main(self) -> int:
        eng = Engine()
        import datagen

        t = time.time()
        sf_dir = datagen.ensure_tables(os.path.join(STATE, "data"), self.wcfg["sf"], self.spec["table_seed"])
        datagen_s = time.time() - t
        self.environment()
        t = time.time()
        spark = eng.session.get_spark(
            app_name="perfbench",
            extra_conf={
                # The heap is fixed and touched at start, so peak RSS
                # tracks the Python driver and off-heap (Arrow) memory
                # instead of G1's heap-growth decisions, which differ
                # from run to run by up to 40%.
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                    f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                )
            },
        )
        get_spark_s = time.time() - t
        gateway = spark.sparkContext._gateway
        self.jvm = gateway.proc
        try:
            return self.measure(eng, spark, gateway, sf_dir, datagen_s, get_spark_s)
        finally:
            self.stop(spark, gateway)

    def measure(self, eng, spark, gateway, sf_dir, datagen_s, get_spark_s) -> int:
        args = self.args
        rng = random.Random(args.seed)
        if self.wcfg["kind"] == "queries":
            wl = QueryWorkload(eng, spark, sf_dir, self.wcfg["ops"])
        else:
            wl = CatalogWorkload(eng, spark, sf_dir, self.wcfg, rng, os.path.join(self.tmp, "tables"))
        t = time.time()
        wl.warm(rng)
        warm_s = time.time() - t
        setup_s = time.time() - T_START - datagen_s

        # A traced run splits its time between an untraced pass set, the
        # base of the tracing overhead, and a traced one.
        share = args.seconds / 2 if args.trace else args.seconds
        steal0 = steal_s()
        passes = run_passes(wl, share, rng, first_pass=0)
        steal = steal_s() - steal0
        rss = peak_rss_mb([os.getpid(), gateway.proc.pid])
        metrics = e2e_metrics(passes, setup_s, rss)
        extra = {}
        if self.wcfg["kind"] == "catalog":
            extra = catalog_metrics(passes)
            extra["bytes_stored_per_input_byte"] = statistics.median(wl.stored_ratio[1:])
        layers = {}
        if args.trace:
            layers = self.traced(wl, rng, passes, len(passes))
            layers.update({"session.get_spark_s": get_spark_s, "session.warm_s": warm_s})

        checked = wl.check()
        failures = [f"{l}: {e}" for p in passes for (l, _s, e) in p["ops"] if e]
        failures += [f"{n}: {p}" for n, p in checked if p]
        attempted = sum(len(p["ops"]) for p in passes) + len(checked)
        if args.trace:
            attempted += sum(len(p["ops"]) for p in self.traced_passes)
            failures += [f"traced {l}: {e}" for p in self.traced_passes for (l, _s, e) in p["ops"] if e]
        extra["ops_failed_ratio"] = len(failures) / attempted

        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "run_id": self.run_id, "nproc": len(os.sched_getaffinity(0)),
            "datagen_s": datagen_s, "get_spark_s": get_spark_s, "warm_s": warm_s,
            "warm_ops": getattr(wl, "warm_ops", None),
            # time other guests of the host took from the timed passes:
            # the first thing to look at when a run is an outlier
            "timed_cpu_steal_s": steal,
            "metrics": {k: {"value": v, "unit": self.units[k]} for k, v in {**metrics, **extra}.items()},
            "passes": [{"pass_s": p["pass_s"], "ops": [[l, round(s, 4), e] for l, s, e in p["ops"]]}
                       for p in passes],
            "failures": failures,
        }
        print("report " + json.dumps(report))
        if args.trace:
            values = {m["name"]: 0.0 for m in self.bench["per_layer"]}
            values.update({k: v for k, v in {**metrics, **extra, **layers}.items() if k in values})
            names = [m["name"] for m in self.bench["per_layer"]]
        else:
            values = metrics
            names = [m["name"] for m in self.bench["end_to_end"]]
        result = {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {n: {"value": values[n], "unit": self.units[n]} for n in names},
        }
        print(json.dumps(result))
        return 0

    def traced(self, wl, rng, passes, first_pass: int) -> dict[str, float]:
        """Traced pass set, after the untraced one: spans at the layer
        boundaries, per-layer metrics, and the tracing overhead."""
        from tracing import Hooks, Tracer, check_nesting

        tracer = Tracer(self.run_id)
        hooks = Hooks(tracer)
        wl.install_hooks(hooks)
        try:
            self.traced_passes = run_passes(wl, self.args.seconds / 2, rng, first_pass, tracer)
        finally:
            hooks.restore()
        out = layer_metrics(tracer, self.traced_passes)
        untraced = statistics.median(p["pass_s"] for p in passes)
        traced = statistics.median(p["pass_s"] for p in self.traced_passes)
        out.update({
            "trace.untraced_pass_s": untraced,
            "trace.traced_pass_s": traced,
            "trace.overhead_s": traced - untraced,
            "trace.spans": len(tracer.spans),
            "trace.nesting_errors": len(check_nesting(tracer.spans)),
        })
        if isinstance(wl, QueryWorkload):
            loop = wl.tracker_loop_s()
            out["tracker.loop_s"] = loop
            q_track = [s for p in passes for (l, s, _e) in p["ops"] if l == "q_track"]
            if q_track and loop:
                out["tracker.boundary_s"] = statistics.median(q_track) - loop
        else:
            out["streaming.replay_skipped"] = statistics.median(
                sum(1 for (l, _s, e) in p["ops"] if l == "catalog.replay" and not e)
                for p in self.traced_passes
            )
            out["catalog.files_written"] = wl.written["files"] / len(self.traced_passes)
            out["catalog.bytes_written"] = wl.written["bytes"] / len(self.traced_passes)
            out["catalog.manifest_bytes"] = wl.manifest_bytes
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        tracer.write(os.path.join(STATE, "traces", f"{self.run_id}.jsonl"))
        return out

    def stop(self, spark, gateway) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        self.watchdog.cancel()
        proc = gateway.proc
        with contextlib.suppress(Exception):
            spark.stop()
        with contextlib.suppress(Exception):
            gateway.shutdown()
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        shutil.rmtree(self.tmp, ignore_errors=True)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    try:
        bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
        spec = load_json(os.path.join(HERE, "spec.json"))
    except OSError as e:
        fail(f"missing benchmark definition: {e}")
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; have {sorted(spec['workloads'])}")
    run = Run(args, bench, spec)
    run.watchdog.start()
    return run.main()


if __name__ == "__main__":
    sys.exit(main())
