"""The ``replicate_steady`` workload: the replicator's normal state.

A separate generator process (``loadgen.py``) POSTs changefeed ndjson to
``sources.webhook.WebhookReceiver`` on a fixed clock. The receiver spools
each body; the stream ``streaming.pipeline.stream_ndjson`` ->
``stream_typed_mutations`` feeds a ``StreamingApplier`` wired as a
deployment would be: a key-bucketed parquet target, the ``StagingTable``
applied ledger, a ``CheckpointGroup`` frontier over a ``Memo`` and a
``DeadLetterQueue``. Spark uses the default trigger.

Lag of a POST = commit time of the micro-batch that held its spool file
minus the POST's *due* time. Files are mapped to batches after the run,
from the stream checkpoint's source log, so measuring lag adds no Spark
job. ``setup_s`` is the session start plus the warm-up: micro-batches
run until their times level off. The initial target is the same for
every seed; it is built on a checkout's first run, outside ``setup_s``,
and copied into each run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from urllib.parse import unquote, urlparse

import harness
from harness import log, median, quantile

N_ROWS = 200_000  # initial target rows
# Target key buckets. Each one a micro-batch touches is rewritten; with
# 64 buckets a micro-batch took 5-8 s on 4 cores, with 8 it takes ~3 s,
# so a 15 s window holds four to six micro-batches instead of two or three.
N_BUCKETS = 8
MUTS = 20  # mutations per POST
# Offered rate, POSTs per second: 7 x MUTS = 140 mutations/s, under a
# tenth of the pipeline's capacity. capacity.py drains a spooled backlog
# of 40,000 mutations through this same pipeline with availableNow; on 4
# cores it applied 1,519 mutations/s in one micro-batch. Far below
# capacity, each micro-batch finds a small backlog, so lag is set by the
# per-batch fixed cost and does not drift over the run.
RATE = 7.0
# Warm-up runs micro-batches until their times level off: at least
# WARM_MIN, until one is within WARM_LEVEL of the one before it, and at
# most WARM_MAX. On 4 cores the first two take 6-8 s, then they fall
# to ~3 s over the next three or four.
WARM_MIN, WARM_MAX, WARM_LEVEL = 3, 5, 0.10


def _source_log(ckpt: str) -> dict[str, int]:
    """Spool file path -> micro-batch id, from the file source's log
    (plain and compacted entries)."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[unquote(urlparse(e["path"]).path)] = e["batchId"]
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime
    return out


def _post_lags(posts, spool_dir: str, ckpt: str) -> dict[int, tuple[int, float]]:
    """POST seq -> (micro-batch id, lag seconds). Each accepted POST wrote exactly one
    spool file; POSTs are sequential, so files with the same content
    pair up with their POSTs in mtime order."""
    by_sha: dict[str, list] = {}
    for p in sorted(glob.glob(os.path.join(spool_dir, "*.ndjson")), key=lambda p: os.stat(p).st_mtime_ns):
        with open(p, "rb") as f:
            by_sha.setdefault(hashlib.sha256(f.read()).hexdigest(), []).append(p)
    batch_of = _source_log(ckpt)
    commits = _commit_times(ckpt)
    lags = {}
    for post in posts:
        if post["status"] != 200:
            continue
        files = by_sha.get(post["sha"])
        if not files:
            continue
        f = files.pop(0)
        b = batch_of.get(os.path.abspath(f))
        if b is not None and b in commits:
            lags[post["seq"]] = (b, commits[b] - post["due"])
    return lags


def _read_target(path: str) -> tuple[dict[int, tuple[str, int]], int]:
    """The final target read with pyarrow, outside Spark: row per key,
    and how many keys appear more than once."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    schema = pa.schema([("id", pa.int64()), ("v", pa.string()), ("n", pa.int64())])
    t = ds.dataset(_parquet_files(path), schema=schema, format="parquet").to_table()
    out, dup = {}, 0
    for i, v, n in zip(*(t.column(c).to_pylist() for c in ("id", "v", "n"))):
        dup += i in out
        out[i] = (v, n)
    return out, dup


def _parquet_files(path: str) -> list[str]:
    return [p for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if not os.path.basename(p).startswith((".", "_"))]


def _dir_stats(path: str) -> tuple[int, int, int]:
    """(parquet files, total bytes, rows) under ``path``."""
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    rows = sum(pq.read_metadata(p).num_rows for p in files)
    return len(files), sum(os.path.getsize(p) for p in files), rows


def initial_target(spark) -> str:
    """The bucketed initial target, written by the program's
    ``init_bucketed_target`` once per checkout under
    ``.perfbench/cache/``; runs copy it."""
    import datagen
    from cdc_sink_spark.streaming import pipeline

    path = os.path.join(harness.repo_root(), ".perfbench", "cache", f"target-{N_ROWS}-{N_BUCKETS}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        snapshot = os.path.join(tmp, "snapshot.parquet")
        datagen.write_target(snapshot, datagen.target_rows(N_ROWS))
        pipeline.init_bucketed_target(
            spark.read.parquet(snapshot), os.path.join(tmp, "t"), datagen.KEY_COLS, N_BUCKETS
        )
        os.remove(snapshot)
        os.rename(tmp, path)
    return os.path.join(path, "t")


def open_pipeline(spark, work: str, target: str):
    """Copy the initial ``target`` into the run and wire the applier as a
    deployment would. Returns the run's directories and the applier."""
    import datagen
    from cdc_sink_spark.operators.checkpoint import CheckpointGroup
    from cdc_sink_spark.operators.dlq import DeadLetterQueue
    from cdc_sink_spark.operators.memo import Memo
    from cdc_sink_spark.operators.staging import StagingTable
    from cdc_sink_spark.streaming import pipeline

    d = {k: os.path.join(work, k) for k in ("target", "spool", "staging", "memo", "dlq", "ckpt")}
    os.makedirs(os.path.join(d["spool"], "t"))
    shutil.copytree(target, d["target"])
    applier = pipeline.StreamingApplier(
        d["target"], datagen.KEY_COLS,
        dlq=DeadLetterQueue(spark, d["dlq"]),
        target_table="t",
        checkpoints=CheckpointGroup(Memo(spark, d["memo"]), "t"),
        staging=StagingTable(spark, d["staging"]),
        n_buckets=N_BUCKETS,
    )
    return d, applier


def start_stream(spark, d: dict, sink, available_now: bool = False):
    """The file source over the spool, parsed to typed mutations, into
    ``sink`` by ``foreachBatch``; the default trigger unless
    ``available_now``."""
    import datagen
    from cdc_sink_spark.streaming import pipeline

    typed = pipeline.stream_typed_mutations(
        pipeline.stream_ndjson(spark, os.path.join(d["spool"], "t")),
        datagen.TARGET_DDL, datagen.KEY_COLS,
    )
    w = typed.writeStream.foreachBatch(sink).option("checkpointLocation", d["ckpt"])
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def run(seed: int, seconds: int, trace: bool, work: str) -> tuple[bool, int, int, dict]:
    import datagen

    t0 = time.perf_counter()
    spark = harness.start_session()
    start_s = time.perf_counter() - t0
    # Built on a checkout's first run only, before the setup clock goes on.
    target = initial_target(spark)
    t_setup = time.perf_counter() - start_s

    from cdc_sink_spark.operators.checkpoint import CheckpointGroup
    from cdc_sink_spark.operators.dlq import DeadLetterQueue
    from cdc_sink_spark.operators.staging import StagingTable
    from cdc_sink_spark.sources import webhook

    tracer = harness.Tracer(spark, enabled=False, run_id=f"replicate_steady-{seed}")
    if trace:
        tracer.wrap(StagingTable, "mark_applied", "staging.mark_applied")
        tracer.wrap(CheckpointGroup, "advance", "checkpoint.advance")
        tracer.wrap(DeadLetterQueue, "enqueue", "dlq.enqueue")

    d, applier = open_pipeline(spark, work, target)
    log(f"session {start_s:.1f}s, pipeline open at {time.perf_counter() - t_setup:.1f}s")
    touched: dict[int, float] = {}  # batch id -> fraction of buckets rewritten
    first_measured: list[int] = []  # id of the first batch that starts after warm-up

    def sink(batch, batch_id):
        # With --trace 1, measured batches are traced in ABBA order
        # (untraced, traced, traced, untraced, ...), so both kinds cover
        # the same stretch of the run and their difference is the cost
        # of tracing.
        tracer.enabled = trace and bool(first_measured) and _traced(batch_id - first_measured[0])
        t0 = time.time()
        with tracer.span("applier.call"):
            applier(batch, batch_id)
        tracer.enabled = False
        kb = glob.glob(os.path.join(d["target"], "__kb=*"))
        touched[batch_id] = sum(os.stat(p).st_mtime >= t0 for p in kb) / N_BUCKETS

    rx = webhook.WebhookReceiver(d["spool"]).start()
    query = start_stream(spark, d, sink)
    gen_out = os.path.join(work, "gen.json")
    gen = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "loadgen.py"),
        "--port", str(rx.port), "--seed", str(seed), "--rate", str(RATE), "--muts", str(MUTS),
        "--rows", str(N_ROWS), "--hlc0", str(datagen.hlc_now()), "--out", gen_out,
    ])
    try:
        warm = _warm_up(query, gen)
        first_measured.append(max(p.batchId for p in query.recentProgress) + 2)
        setup_s = time.perf_counter() - t_setup
        t_meas0 = time.time()
        log(f"warm-up batches (ms) {warm}")
        log(f"warm after {setup_s:.1f}s; measuring {seconds}s")
        time.sleep(seconds)
        t_meas1 = time.time()
    finally:
        gen.send_signal(signal.SIGTERM)
        try:
            gen.wait(30)
        except subprocess.TimeoutExpired:
            gen.kill()
            gen.wait()
    query.processAllAvailable()
    progress = [json.loads(p.json) for p in query.recentProgress]
    query.stop()
    rx.stop()
    tracer.unwrap_all()

    with open(gen_out) as f:
        g = json.load(f)
    posts = g["posts"]
    lags = _post_lags(posts, os.path.join(d["spool"], "t"), d["ckpt"])
    measured = [p for p in posts if t_meas0 <= p["due"] < t_meas1]
    lag = [lags[p["seq"]][1] for p in measured if p["seq"] in lags]

    # ---------------------------------------------------- correctness
    model = {k: (v, n) for k, v, n in g["model"]}
    got, dup = _read_target(d["target"])
    bad = sorted(k for k in set(model) | set(got) if model.get(k) != got.get(k))
    refused = [p for p in posts if p["status"] != 200]
    lost = [p for p in posts if p["status"] == 200 and p["seq"] not in lags]
    attempted = len(posts) + len(set(model) | set(got))
    failed = len(refused) + len(bad) + len(lost) + dup
    if bad or dup:
        log(f"target keys wrong/missing/extra: {len(bad)} e.g. {bad[:5]}; duplicated: {dup}")
    if refused or lost:
        log(f"non-200 POSTs: {len(refused)}; POSTs never committed: {len(lost)}")

    # Open-loop validity: a backlog that grows over the window means the
    # offered rate was above capacity, and the lag is not a steady figure.
    # Lag of the POSTs due in the window's last third against its first;
    # growth beyond the metric's bound makes the run unsustainable, which
    # fails it instead of reporting its lag as a result.
    third = (t_meas1 - t_meas0) / 3
    first = [lags[p["seq"]][1] for p in measured if p["seq"] in lags and p["due"] < t_meas0 + third]
    last = [lags[p["seq"]][1] for p in measured if p["seq"] in lags and p["due"] >= t_meas1 - third]
    growth = median(last) / median(first) if first and last else float("inf")
    sustainable = growth <= 1 + harness.bound("latency_p50_s")
    if not sustainable:
        log(f"UNSUSTAINABLE: lag over the last third is {growth:.2f}x the first third's")
    correct = failed == 0 and sustainable

    batches = [p for p in progress if p.get("numInputRows", 0) and t_meas0 <= _ptime(p) < t_meas1]
    e2e = {
        "latency_p50_s": quantile(lag, 0.5),
        "latency_p90_s": quantile(lag, 0.9),
        "setup_s": setup_s,
    }
    log("e2e " + json.dumps({k: round(v, 4) for k, v in e2e.items()})
        + f" posts={len(measured)} growth={growth:.3f} failed={failed}/{attempted} batches (ms) "
        + str([p["durationMs"]["triggerExecution"] for p in batches]))
    if not trace:
        return correct, attempted, failed, e2e

    # ---------------------------------------------------- per layer
    traced_ids = {b for b in touched if _traced(b - first_measured[0])}
    calls = [s for s in tracer.named("applier.call", since=t_meas0) if s.group]
    rows_of = {p["batchId"]: p["numInputRows"] for p in progress}
    inc = [tracer.inclusive(s) for s in calls]
    n_rows_traced = sum(rows_of.get(b, 0) for b in traced_ids)
    t_files, t_bytes, t_rows = _dir_stats(d["target"])
    l_files, _, l_rows = _dir_stats(os.path.join(d["staging"], "_applied"))
    _, _, dlq_rows = _dir_stats(d["dlq"]) if os.path.isdir(d["dlq"]) else (0, 0, 0)
    dur = lambda name: [s.wall_s for s in tracer.named(name, since=t_meas0) if s.group]  # noqa: E731
    pb = lambda key: (sum(i[key] for i in inc) / len(inc)) if inc else 0.0  # noqa: E731
    trig = lambda ids: median([p["durationMs"]["triggerExecution"] / 1e3  # noqa: E731
                               for p in batches if (p["batchId"] in traced_ids) == ids])
    meas_touched = [v for b, v in touched.items() if b >= first_measured[0]]
    layer = {
        "session.start_s": start_s,
        "session.warm_s": setup_s - start_s,
        "webhook.ack_ms_p50": quantile([(p["acked"] - p["sent"]) * 1e3 for p in measured], 0.5),
        "webhook.ack_ms_p99": quantile([(p["acked"] - p["sent"]) * 1e3 for p in measured], 0.99),
        "webhook.posts": len(measured),
        "webhook.failed_posts": sum(p["status"] != 200 for p in measured),
        "stream.batches": len(batches),
        "stream.rows_per_batch_p50": median([p["numInputRows"] for p in batches]),
        "stream.latest_offset_s_p50": median([p["durationMs"].get("latestOffset", 0) / 1e3 for p in batches]),
        "stream.trigger_s_p50": median([p["durationMs"]["triggerExecution"] / 1e3 for p in batches]),
        "stream.lag_growth": growth,
        "stream.wal_commit_s_p50": median([p["durationMs"].get("walCommit", 0) / 1e3 for p in batches]),
        "applier.call_s_p50": quantile([s.wall_s for s in calls], 0.5),
        "applier.call_s_p90": quantile([s.wall_s for s in calls], 0.9),
        "applier.jobs_per_batch": pb("jobs"),
        "applier.tasks_per_batch": pb("tasks"),
        "applier.idle_s_p50": median([s.wall_s - i["busy_s"] for s, i in zip(calls, inc)]),
        "applier.executor_cpu_s_per_batch": pb("executor_cpu_s"),
        "applier.shuffle_bytes_per_batch": pb("shuffle_write_bytes"),
        "applier.bytes_written_per_mutation": (
            sum(i["output_bytes"] for i in inc) / n_rows_traced if n_rows_traced else 0.0),
        "applier.buckets_touched_frac": median(meas_touched),
        "staging.mark_applied_s_p50": median(dur("staging.mark_applied")),
        "staging.ledger_files_end": l_files,
        "staging.ledger_rows_end": l_rows,
        "checkpoint.advance_s_p50": median(dur("checkpoint.advance")),
        "memo.files_end": len(glob.glob(os.path.join(d["memo"], "*.parquet"))),
        "dlq.enqueue_s_p50": median(dur("dlq.enqueue")),
        "dlq.rows_end": dlq_rows,
        "target.files_end": t_files,
        "target.bytes_per_row_end": t_bytes / t_rows if t_rows else 0.0,
        "gen.late_s_p99": quantile([p["sent"] - p["due"] for p in measured], 0.99),
        "gen.posts": len(posts),
        # Micro-batch time, traced batches minus untraced ones (ABBA).
        "trace.overhead_s": trig(True) - trig(False),
        "trace.read_s": tracer.overhead_s,
    }
    log(f"spans written to {tracer.dump()}")
    return correct, attempted, failed, layer


def _traced(k: int) -> bool:
    """Whether the k-th measured micro-batch is traced (ABBA order)."""
    return k >= 0 and k % 4 in (1, 2)


def _warm_up(query, gen) -> list[int]:
    """Block until the micro-batch times have levelled off; returns them (ms)."""
    while True:
        if query.exception() is not None or gen.poll() is not None:
            raise RuntimeError(f"stream or generator stopped during warm-up: {query.exception()}")
        ms = [p.durationMs["triggerExecution"] for p in query.recentProgress if p.numInputRows]
        level = len(ms) >= 2 and abs(ms[-1] - ms[-2]) <= WARM_LEVEL * ms[-2]
        if len(ms) >= WARM_MAX or (len(ms) >= WARM_MIN and level):
            return ms
        time.sleep(0.1)


def _ptime(progress: dict) -> float:
    """Wall time (epoch s) a progress event's trigger started."""
    import datetime as dt

    ts = progress["timestamp"].rstrip("Z")
    return dt.datetime.fromisoformat(ts).replace(tzinfo=dt.timezone.utc).timestamp()
