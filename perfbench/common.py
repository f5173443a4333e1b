"""Shared plumbing for the benchmark workloads: environment, spans and
counters, event-log attribution, statistics, stamps and shutdown.

A workload wraps every call into the engine in :meth:`Tracer.span`. With
tracing off a span only records its wall time, which the end-to-end
metrics are computed from. With tracing on it also tags the Spark jobs the
call starts, snapshots the JVM codegen and file-listing counters and the
host fork counter around the call, and reads the touched table's counters
from disk afterwards; the event log then gives each call's Spark work.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.getcwd()
PKG = "stellar_etl_airflow_spark"
WORK = os.path.join(ROOT, ".perfbench", "work")
OUT = os.path.join(ROOT, ".perfbench", "out")


class BenchError(RuntimeError):
    """The benchmark cannot run here (missing program, bad arguments)."""


# --------------------------------------------------------------------------
# environment


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def prepare_env() -> None:
    """Point the engine, its JVM and its Python workers at this checkout
    and size the Spark driver's memory to the host."""
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        raise BenchError(f"no {PKG}/ package under {ROOT}: run from a checkout root")
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    # the session default (64g) exceeds small hosts; a quarter of RAM,
    # capped at 4g, leaves room for the Python workers
    mem_mb = max(1024, min(4096, host_mem_mb() // 4))
    env = {
        "PYTHONPATH": ROOT + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # every JVM started (the launcher's too) keeps its scratch files
        # inside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                             f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
    }
    os.environ.update(env)
    os.environ.pop("SPARK_MASTER", None)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def session_conf(trace: bool) -> dict:
    conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse")}
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def build_session(tracer: "Tracer", app: str, warm_ds: bool):
    """``get_spark`` (and ``warm_python_data_source`` when the workload
    reads the snapshot format), each as a ``session`` span."""
    from stellar_etl_airflow_spark.session import get_spark, warm_python_data_source

    with tracer.span("session", "session.get_spark_s"):
        spark = get_spark(app, extra_conf=session_conf(tracer.on))
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    if warm_ds:
        with tracer.span("session", "session.warm_ds_s"):
            warm_python_data_source(spark)
    return spark


def stamp(spark, workload: str, scale: dict) -> dict:
    """Everything that makes two runs comparable or not."""
    import pyspark

    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    try:
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        export_path = "spark-avro DataSource"
    except Exception:
        export_path = "python mapInArrow writer"
    return {
        "workload": workload,
        "nproc": os.cpu_count(),
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "scale": scale,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "?"),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "exports.path": export_path,
        "fastfs": (hconf.get("fs.file.impl") or "").startswith("fastlocalfs"),
        **source_id(),
    }


def source_id() -> dict:
    """Commit and dirty flag when the checkout is a git work tree; always a
    digest of the engine's sources, which identifies the code either way."""
    h = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    out = {"source_sha1": h.hexdigest()[:16], "commit": None, "dirty": None}
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out["commit"] = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
            out["dirty"] = bool(subprocess.run(
                ["git", "status", "--porcelain", "--untracked-files=no"],
                cwd=ROOT, capture_output=True, text=True, timeout=10,
            ).stdout.strip())
        except (OSError, subprocess.SubprocessError):
            pass
    return out


# --------------------------------------------------------------------------
# statistics


def pct(values, q: float):
    """Percentile ``q`` (0..100) by linear interpolation; None if empty."""
    v = sorted(values)
    if not v:
        return None
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def timing(name: str, values, unit: str = "s", qs=(50, 90, 99)) -> dict:
    """``{name.pNN: {value, unit, n, beyond}}`` for each percentile that
    has at least ten samples beyond it (the median is always given when
    there is a sample, flagged by ``beyond`` when it has fewer)."""
    out = {}
    n = len(values)
    for q in qs:
        beyond = int(n * (100 - q) / 100)
        if n and (q == 50 or beyond >= 10):
            out[f"{name}.p{q}"] = {"value": pct(values, q), "unit": unit, "n": n, "beyond": beyond}
    return out


def canon_hash(columns, rows) -> tuple[int, str]:
    """Order-independent digest of a result: columns sorted by name, every
    value rendered exactly, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())

    def norm(v):
        if v is None:
            return "<null>"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return "0.0" if v == 0 else repr(v)
        if isinstance(v, bool):
            return str(v).lower()
        return str(v)

    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha1()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


# --------------------------------------------------------------------------
# corpus queries


def duck_oracles(sf_dir: str, names) -> dict:
    """``{entry: (rows, hash)}`` from each entry's DuckDB oracle SQL."""
    import duckdb

    from stellar_etl_airflow_spark.queries import QUERIES as SPECS

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    out = {}
    try:
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet"):
                path = os.path.join(sf_dir, name)
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
        for q in names:
            res = con.execute(SPECS[q].oracle)
            cols = [d[0].lower() for d in res.description]
            out[q] = canon_hash(cols, res.fetchall())
    finally:
        con.close()
    return out


def run_query(spark, tr: "Tracer", name: str, sf_dir: str) -> tuple[int, str]:
    """One corpus entry: the spec's DataFrame function, then the collect."""
    from stellar_etl_airflow_spark.queries import QUERIES as SPECS

    with tr.span("queries", "query_s"):
        with tr.span("queries", "queries.build_s"):
            df = SPECS[name].fn(spark, sf_dir)
        with tr.span("queries", "queries.exec_s"):
            rows = [tuple(r) for r in df.collect()]
    return canon_hash([c.lower() for c in df.columns], rows)


# --------------------------------------------------------------------------
# process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            kids.setdefault(int(rest[1]), []).append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus its descendants (the JVM
    and its Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in [me] + descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def start(self):
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        return self.peak_kb / 1024.0


def host_forks() -> int:
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has exited (Python workers outlive the JVM briefly and are
    reparented, so they are listed before it stops)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    # best effort: a failed stop must not skip the waiting below
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while True:
        left = [p for p in started + descendants(os.getpid()) if _alive(p)]
        if not left or time.time() > deadline + 10:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        for p in left:  # reap our own children
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


# --------------------------------------------------------------------------
# table counters read from disk


def table_counters(path: str) -> dict:
    """Versions, data files and bytes of one snapshot table, from its
    directory and latest manifest."""
    from stellar_etl_airflow_spark.sinks import snapshots as S

    snap = os.path.join(path, "_snapshots")
    manifests = sorted(glob.glob(os.path.join(snap, "v*.json")))
    disk_bytes, data_files = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                disk_bytes += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
            if f.endswith(".parquet") and "/_snapshots" not in root:
                data_files += 1
    live_bytes, live_files, manifest_bytes = 0, 0, 0
    if manifests:
        manifest_bytes = os.path.getsize(manifests[-1])
        m = S.read_manifest(path, resolve=False)
        live_files = len(m.get("files") or [])
        for f in m.get("files") or []:
            try:
                live_bytes += os.path.getsize(f)
            except OSError:
                pass
    return {
        "snapshots.versions": len(manifests),
        "snapshots.data_files": data_files,
        "snapshots.live_files": live_files,
        "snapshots.manifest_bytes": manifest_bytes,
        "snapshots.disk_bytes": disk_bytes,
        "snapshots.live_bytes": live_bytes,
    }


def space_amp(path: str) -> float:
    c = table_counters(path)
    return c["snapshots.disk_bytes"] / max(1, c["snapshots.live_bytes"])


# --------------------------------------------------------------------------
# spans


class Span:
    __slots__ = ("id", "layer", "metric", "parent", "depth", "setup", "t0", "t1", "ok", "jvm", "forks", "table",
                 "extra")

    def __init__(self, sid, layer, metric, parent, depth, setup=False):
        self.id, self.layer, self.metric = sid, layer, metric
        self.parent, self.depth, self.setup = parent, depth, setup
        self.t0 = self.t1 = 0.0
        self.ok = True
        self.jvm: dict = {}
        self.forks = 0
        self.table = None
        self.extra: dict = {}

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Spans around the workload's calls into the engine, kept in memory."""

    TAG = "perfbench-span-"

    def __init__(self, on: bool):
        self.on = on
        # spans opened while this is set belong to set-up; the workload
        # clears it when set-up ends
        self.in_setup = True
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._spark = None
        self._cg = self._hc = None

    def attach(self, spark) -> None:
        self._spark = spark
        if self.on:
            src = spark._jvm.org.apache.spark.metrics.source
            self._cg = src.CodegenMetrics
            self._hc = src.HiveCatalogMetrics
            self._jvm0 = self._jvm_counters()

    def jvm_totals(self) -> dict:
        """JVM counter deltas since the session started (whole process,
        every thread)."""
        now = self._jvm_counters()
        return {k: now[k] - self._jvm0[k] for k in now}

    def _jvm_counters(self) -> dict:
        if self._cg is None:
            return {}
        h = self._cg.METRIC_COMPILATION_TIME()
        n = h.getCount()
        return {
            "codegen.compiles": n,
            # the histogram keeps milliseconds per compile
            "codegen.compile_ms_total": h.getSnapshot().getMean() * n,
            "scan.files_discovered": self._hc.METRIC_FILES_DISCOVERED().getCount(),
        }

    @contextmanager
    def span(self, layer: str, metric: str, table: str | None = None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(sid, layer, metric, stack[-1].id if stack else None, len(stack), self.in_setup)
        tag = f"{self.TAG}{sid}"
        spark = self._spark if self.on else None
        if spark is not None:
            spark.addTag(tag)
            before = self._jvm_counters()
            forks0 = host_forks()
        stack.append(sp)
        sp.t0 = time.time()
        try:
            yield sp
        except BaseException:
            sp.ok = False
            raise
        finally:
            sp.t1 = time.time()
            stack.pop()
            if spark is not None:
                sp.forks = host_forks() - forks0
                after = self._jvm_counters()
                sp.jvm = {k: after[k] - before[k] for k in after}
                spark.removeTag(tag)
                if table is not None and os.path.isdir(os.path.join(table, "_snapshots")):
                    sp.table = table_counters(table)
            with self._lock:
                self.spans.append(sp)

    def walls(self, metric: str, setup: bool = False) -> list[float]:
        """Walls of the successful ``metric`` spans of the measured phase
        (or, with ``setup``, of set-up)."""
        return [s.wall for s in self.run_spans(metric, setup) if s.ok]

    def run_spans(self, metric: str, setup: bool = False) -> list[Span]:
        return [s for s in self.spans if s.metric == metric and s.setup == setup]


# --------------------------------------------------------------------------
# event log


def read_event_log(log_dir: str) -> dict:
    """Jobs and task totals from a Spark event log.

    Returns ``{job_id: {"tags", "t0", "t1", "tasks", "task_s", "gc_s",
    "shuffle_bytes", "spill_bytes"}}`` with times in epoch seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "tags": tags, "t0": ev.get("Submission Time", 0) / 1000.0, "t1": None,
                        "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs") or []:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["t1"] = ev.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if j is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    j["tasks"] += 1
                    j["task_s"] += (m.get("Executor Run Time") or 0) / 1000.0
                    j["gc_s"] += (m.get("JVM GC Time") or 0) / 1000.0
                    j["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written") or 0
                    j["spill_bytes"] += (m.get("Memory Bytes Spilled") or 0) + (m.get("Disk Bytes Spilled") or 0)
    for j in jobs.values():
        if j["t1"] is None:
            j["t1"] = j["t0"]
    return jobs


def _union(intervals) -> float:
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


SPARK_KEYS = ("spark.jobs", "spark.tasks", "spark.task_s", "spark.shuffle_bytes",
              "spark.spill_bytes", "spark.gc_s", "spark.driver_s")


def attribute(spans: list[Span], jobs: dict) -> tuple[dict, dict]:
    """Per-layer and whole-run numbers from the spans and the event log.

    Each job goes to the innermost span whose tag it carries. A span's
    self time is its wall minus its child spans; its ``spark.driver_s`` is
    its self time minus the union of its own jobs' intervals."""
    by_id = {s.id: s for s in spans}
    own_jobs: dict[int, list[dict]] = {}
    for j in jobs.values():
        # session tags reach the event log prefixed with session/thread ids
        ids = [int(t.rsplit(Tracer.TAG, 1)[1]) for t in j["tags"] if Tracer.TAG in t]
        ids = [i for i in ids if i in by_id]
        if ids:
            own_jobs.setdefault(max(ids, key=lambda i: by_id[i].depth), []).append(j)
    child_wall: dict[int, float] = {}
    child_jvm: dict[int, dict] = {}
    for s in spans:
        if s.parent is not None:
            child_wall[s.parent] = child_wall.get(s.parent, 0.0) + s.wall
            acc = child_jvm.setdefault(s.parent, {})
            for k, v in s.jvm.items():
                acc[k] = acc.get(k, 0) + v
    layers: dict[str, dict] = {}
    for s in spans:
        mine = own_jobs.get(s.id, [])
        self_s = max(0.0, s.wall - child_wall.get(s.id, 0.0))
        L = layers.setdefault(s.layer, {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "forks": 0,
                                        **{k: 0 for k in SPARK_KEYS}})
        L["calls"] += 1
        L["self_s"] += self_s
        if s.depth == 0 or by_id.get(s.parent) is None or by_id[s.parent].layer != s.layer:
            L["wall_s"] += s.wall
        L["forks"] += s.forks
        L["spark.jobs"] += len(mine)
        L["spark.driver_s"] += max(0.0, self_s - _union((j["t0"], j["t1"]) for j in mine))
        for j in mine:
            L["spark.tasks"] += j["tasks"]
            L["spark.task_s"] += j["task_s"]
            L["spark.gc_s"] += j["gc_s"]
            L["spark.shuffle_bytes"] += j["shuffle_bytes"]
            L["spark.spill_bytes"] += j["spill_bytes"]
        for k, v in s.jvm.items():  # self share: minus the child spans'
            L[k] = L.get(k, 0) + v - child_jvm.get(s.id, {}).get(k, 0)
    total = {k: 0 for k in SPARK_KEYS}
    total["spark.jobs"] = len(jobs)
    for j in jobs.values():
        total["spark.tasks"] += j["tasks"]
        total["spark.task_s"] += j["task_s"]
        total["spark.gc_s"] += j["gc_s"]
        total["spark.shuffle_bytes"] += j["shuffle_bytes"]
        total["spark.spill_bytes"] += j["spill_bytes"]
    total["spark.driver_s"] = sum(L["spark.driver_s"] for L in layers.values())
    total["spark.untagged_jobs"] = len(jobs) - sum(len(v) for v in own_jobs.values())
    return layers, total
