"""Session set-up and the layer-attributed tracing harness.

``Tracer`` times calls into the program's public functions from the
outside: ``wrap`` replaces a module or class attribute with a wrapper
that opens a span around each call. A span records its name, start,
end, parent and run id; on entry it sets a Spark job group of its own
(job groups are thread-local, so a span opened inside a ``foreachBatch``
callback tags that callback thread's jobs), and on exit it reads the
jobs of that group and their stages from Spark's status store, before
the store's retention (1000 jobs/stages by default) can drop them.
Spans stay in memory; ``dump`` writes them out at the end of a traced
run, to ``.perfbench/spans/``.

With tracing off ``span`` still records the call's start and end but
sets no job group and reads nothing, so an untraced run pays two clock
reads per wrapped call.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import sys
import threading
import time

# Fixed rather than taken from the box, so figures from different boxes
# compare; 2g keeps the JVM small on a machine shared with others.
CPUS = 4
DRIVER_MEM = "2g"


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(work: str) -> None:
    """Point every scratch location Spark and Python use inside ``work``
    and pin the session's size. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
            ),
        }
    )
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    if repo_root() not in sys.path:
        sys.path.insert(0, repo_root())


def bound(metric: str) -> float:
    """The end-to-end metric's bound, from BENCHMARK.json."""
    with open(os.path.join(repo_root(), "BENCHMARK.json")) as f:
        return next(m["bound"] for m in json.load(f)["end_to_end"] if m["name"] == metric)


def start_session():
    from cdc_sink_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); 0.0 for no values."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Span:
    __slots__ = ("name", "sid", "parent", "start", "end", "group", "jobs", "stats", "intervals")

    def __init__(self, name: str, sid: int, parent: int | None):
        self.name = name
        self.sid = sid
        self.parent = parent
        self.start = time.time()
        self.end = 0.0
        self.group: str | None = None  # Spark job group, when traced
        self.jobs: list[int] = []
        self.stats: dict[str, float] = {}
        self.intervals: list[tuple[float, float]] = []  # job submit..complete

    @property
    def wall_s(self) -> float:
        return self.end - self.start


STAT_KEYS = (
    "jobs", "stages", "tasks", "busy_s", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "output_bytes", "spill_bytes",
)


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []
        self._stack: dict[int, list[int]] = {}  # thread id -> open span ids
        self.overhead_s = 0.0  # time spent reading the status store
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack.setdefault(threading.get_ident(), [])
        s = Span(name, next(self._ids), stack[-1] if stack else None)
        if not self.enabled:
            try:
                yield s
            finally:
                s.end = time.time()
                self.spans.append(s)
            return
        s.group = f"{self.run_id}:{name}:{s.sid}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(s.group, name)
        stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            t0 = time.perf_counter()
            self._read_jobs(s)
            self.overhead_s += time.perf_counter() - t0
            self.spans.append(s)

    def _read_jobs(self, s: Span) -> None:
        """Jobs of the span's group and their stages' metrics, read now:
        the status store keeps only the last 1000 jobs and stages."""
        # Stage metrics land in the store on the listener bus; drain it
        # so the last job's stages are complete before they are read.
        self._bus.waitUntilEmpty(10_000)
        st = dict.fromkeys(STAT_KEYS, 0.0)
        intervals = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(s.group):
            try:
                jd = self._store.job(jid)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            s.jobs.append(jid)
            st["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids = jd.stageIds()
            for i in range(stage_ids.size()):
                try:
                    sd = self._store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # noqa: BLE001 - skipped stage, never attempted
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                st["stages"] += 1
                st["tasks"] += sd.numCompleteTasks()
                st["executor_run_s"] += sd.executorRunTime() / 1e3
                st["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                st["shuffle_read_bytes"] += sd.shuffleReadBytes()
                st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                st["output_bytes"] += sd.outputBytes()
                st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        st["busy_s"] = _union_len(intervals)
        s.intervals = intervals
        s.stats = st

    # ------------------------------------------------------------ wrapping
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a wrapper that runs each call inside ``span(name)``."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # ------------------------------------------------------------ queries
    def named(self, name: str, since: float = 0.0) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.start >= since]

    def inclusive(self, span: Span) -> dict[str, float]:
        """The span's stats plus all its descendants'; ``busy_s`` is the
        union of every job interval under it."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        todo, seen = [span], []
        while todo:
            s = todo.pop()
            seen.append(s)
            todo.extend(kids.get(s.sid, []))
        out = {k: sum(s.stats.get(k, 0.0) for s in seen) for k in STAT_KEYS}
        out["busy_s"] = _union_len([iv for s in seen for iv in s.intervals])
        return out

    def dump(self) -> str:
        """Write the spans to ``.perfbench/spans/<run id>.jsonl``; returns the path."""
        path = os.path.join(repo_root(), ".perfbench", "spans", f"{self.run_id}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.sid, "parent": s.parent,
                    "name": s.name, "start": s.start, "end": s.end,
                    "jobs": s.jobs, **s.stats,
                }) + "\n")
        return path


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


QUERY_MODULES = ("analytic", "tpch_extra", "cdc", "textops", "vectors")

# Per-layer metrics every traced run reports, in BENCHMARK.json order. A
# layer a workload never calls reports 0 (e.g. webhook.* on headline).
LAYER_UNITS = {
    "session.start_s": "s", "session.warm_s": "s",
    "webhook.ack_ms_p50": "ms", "webhook.ack_ms_p99": "ms",
    "webhook.posts": "count", "webhook.failed_posts": "count",
    "stream.batches": "count", "stream.rows_per_batch_p50": "count",
    "stream.latest_offset_s_p50": "s", "stream.trigger_s_p50": "s",
    "stream.wal_commit_s_p50": "s", "stream.lag_growth": "ratio",
    "applier.call_s_p50": "s", "applier.call_s_p90": "s",
    "applier.jobs_per_batch": "count", "applier.tasks_per_batch": "count",
    "applier.idle_s_p50": "s", "applier.executor_cpu_s_per_batch": "s",
    "applier.shuffle_bytes_per_batch": "bytes",
    "applier.bytes_written_per_mutation": "bytes",
    "applier.buckets_touched_frac": "ratio",
    "staging.mark_applied_s_p50": "s", "staging.ledger_files_end": "count",
    "staging.ledger_rows_end": "count",
    "checkpoint.advance_s_p50": "s", "memo.files_end": "count",
    "dlq.enqueue_s_p50": "s", "dlq.rows_end": "count",
    "target.files_end": "count", "target.bytes_per_row_end": "bytes",
    **{f"{m}.{k}": u for m in QUERY_MODULES
       for k, u in (("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"),
                    ("executor_cpu_s", "s"), ("shuffle_bytes", "bytes"))},
    "dedup.cc_s": "s", "dedup.cc_jobs": "count",
    "gen.late_s_p99": "s", "gen.posts": "count",
    "trace.overhead_s": "s", "trace.read_s": "s",
}
E2E_UNITS = {"latency_p50_s": "s", "latency_p90_s": "s", "setup_s": "s"}


def emit(correct: bool, attempted: int, failed: int, metrics: dict, trace: bool) -> None:
    """The result line, the last line of standard output: every metric of
    the run's kind, by name, with its unit (``metrics`` maps name to
    value)."""
    units = LAYER_UNITS if trace else E2E_UNITS
    unknown = set(metrics) - set(units)
    if unknown:
        raise KeyError(f"metrics not declared: {sorted(unknown)}")
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()


def log(msg: str) -> None:
    sys.stderr.write(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}\n")
    sys.stderr.flush()
