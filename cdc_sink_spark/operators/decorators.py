"""Acceptor decorators: retry, once/marker, and metrics wrappers.

Reference: ``internal/sequencer/decorators`` — composable wrappers
around the mutation acceptor chain: ``retry.go`` (re-run the accept on
retryable target errors), ``once.go`` (skip mutations already marked
applied in staging), ``marker.go`` (mark mutations applied after a
successful accept), plus the prometheus counters the reference hangs
off each acceptor.

Spark-first: an "acceptor" here is any ``fn(target, muts, key_cols,
...) -> (snapshot, rejected)`` (apply_mutations or a sequencer mode).
Task-level faults are already retried by Spark itself; the retry
decorator covers *driver-visible* transient failures (sink contention,
object-store throttling) with exponential backoff, re-invoking the
whole idempotent plan — which is exactly why the reference pairs retry
with once/marker: replays must dedup. Metrics ride on ``df.observe``:
the counters are computed inside the existing job, no extra action.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

Acceptor = Callable[..., tuple[DataFrame, DataFrame]]


def with_retry(
    accept: Acceptor,
    attempts: int = 4,
    base_delay: float = 0.25,
    retryable: Callable[[Exception], bool] | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> Acceptor:
    """retry.go: re-run the accept on transient errors, exponential
    backoff. The accept must be idempotent (pair with once/marker)."""
    retryable = retryable or (lambda e: True)

    def wrapped(*args, **kw):
        delay = base_delay
        for attempt in range(attempts):
            try:
                return accept(*args, **kw)
            except Exception as e:  # noqa: BLE001
                if attempt == attempts - 1 or not retryable(e):
                    raise
                sleep(delay)
                delay *= 2
        raise AssertionError("unreachable")

    return wrapped


def with_once(accept: Acceptor, staging, ts_col: str = "ts") -> Acceptor:
    """once.go: drop mutations whose (key, ts) is already marked applied
    in staging — an anti-join, so a retried batch reapplies nothing."""

    def wrapped(target, muts, key_cols, *args, **kw):
        fresh = staging.filter_applied(muts, key_cols, ts_col=ts_col)
        return accept(target, fresh, key_cols, *args, **kw)

    return wrapped


def with_marker(accept: Acceptor, staging, ts_col: str = "ts") -> Acceptor:
    """marker.go: after a successful accept, mark the batch applied in
    staging so once() skips it on replay.

    Ordering matters: the snapshot is MATERIALIZED (eager
    localCheckpoint) before the ledger write. Marking an un-computed
    lazy plan would let a later action failure strand the batch —
    once() would filter it on retry while the target never saw it (the
    round-10 review's data-loss path). After the checkpoint, the
    returned snapshot no longer depends on re-running the apply, so a
    downstream write retry is safe against the already-marked ledger.

    Only mutations the accept actually APPLIED get marked: rows the
    acceptor rejected (CAS conflict, missed deadline) are anti-joined
    out of the ledger on (key, ts), so a DLQ replay or a best-effort
    retry of a parked mutation is not silently dropped by once()
    (marker.go marks exactly the batch the target transaction took).
    """

    def wrapped(target, muts, key_cols, *args, **kw):
        snapshot, rejected = accept(target, muts, key_cols, *args, **kw)
        snapshot = snapshot.localCheckpoint(eager=True)
        staging.mark_applied(
            mark_exclude_rejected(muts, rejected, key_cols, ts_col=ts_col),
            key_cols,
            ts_col=ts_col,
        )
        return snapshot, rejected

    return wrapped


def mark_exclude_rejected(
    muts: DataFrame, rejected: DataFrame, key_cols: list[str], ts_col: str = "ts"
) -> DataFrame:
    """The slice of ``muts`` an acceptor actually applied: anti-join the
    rejected/parked (key, ts) pairs out. Two rejected shapes are
    understood: apply_mutations' (key, __rej_ts) rows, and a sequencer's
    PARKED stream in raw mutation schema (key + the batch's own ts
    column — seq_besteffort returns FK orphans this way). Marking parked
    mutations applied would be permanent data loss: the once-filter on
    the retry sweep would drop them forever, so the full-batch fallback
    only triggers when the rejected frame keys the exclusion on nothing
    at all."""
    if rejected is None:
        return muts
    if "__rej_ts" in rejected.columns:
        rej_ts = "__rej_ts"
    elif ts_col in rejected.columns:
        rej_ts = ts_col
    else:
        return muts
    rej = rejected.select(
        *[F.col(k).alias(f"__rj_{k}") for k in key_cols],
        F.col(rej_ts).alias("__rj_ts"),
    )
    cond = muts[ts_col] == rej["__rj_ts"]
    for k in key_cols:
        cond = cond & (muts[k] == rej[f"__rj_{k}"])
    return muts.join(rej, cond, "left_anti")


def with_metrics(
    accept: Acceptor, deleted_col: str = "__deleted"
) -> Callable[..., tuple[DataFrame, DataFrame, Observation]]:
    """Acceptor counters (mutations in, deletes in) via ``df.observe`` —
    collected as a side-product of whatever action the caller runs on
    the snapshot, zero extra jobs. Returns (snapshot, rejected, obs);
    read ``obs.get`` after an action has executed."""

    def wrapped(target, muts, key_cols, *args, **kw):
        obs = Observation()
        metered = muts.observe(
            obs,
            F.count(F.lit(1)).alias("mutations_in"),
            F.sum(F.col(deleted_col).cast("long")).alias("deletes_in"),
        )
        snapshot, rejected = accept(target, metered, key_cols, *args, **kw)
        return snapshot, rejected, obs

    return wrapped


def chain(accept: Acceptor, *wrappers: Callable[[Acceptor], Acceptor]) -> Acceptor:
    """provider.go composition order: wrappers apply outermost-last,
    e.g. chain(apply, once, marker, retry) retries (marker (once (apply)))."""
    for w in wrappers:
        accept = w(accept)
    return accept
