"""Structured Streaming CDC pipeline.

Reference: the HTTP changefeed server (``internal/source/cdc`` +
``stdserver``) receives ndjson bodies, stages mutations, and applies
them per resolved window. Spark-first, the same pipeline is:

  readStream(text ndjson) -> cdcjson parse (same exprs as batch)
     -> stateful last-write-wins (applyInPandasWithState, keyed state)
     -> foreachBatch apply onto the target snapshot

Watermarks bound the LWW state: a key whose latest mutation is older
than the watermark is flushed and dropped, mirroring how the reference
unstages work at/below the resolved frontier.

``StreamingApplier`` is the one foreachBatch apply: each micro-batch
picks its sequencer (serial over a resolved feed, or the immediate
apply), and every mode then shares one replay guard, one reject route,
one ``TargetStore`` commit and one frontier advance.
"""

from __future__ import annotations

import os
import shutil
from bisect import bisect_left
from contextlib import ExitStack
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cdc_sink_spark.functions.hlc import parse_hlc
from cdc_sink_spark.operators import artifact, sequencer
from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations
from cdc_sink_spark.operators.dlq import DeadLetterQueue
from cdc_sink_spark.operators.staging import mark_exclude_rejected
from cdc_sink_spark.session import release_checkpoint
from cdc_sink_spark.sources import cdcjson


def stream_ndjson(spark: SparkSession, path: str) -> DataFrame:
    """Incremental ndjson file source (objstore-style bucket watch)."""
    return spark.readStream.format("text").load(path)


def stream_typed_mutations(lines: DataFrame, payload_schema, key_cols: list[str]) -> DataFrame:
    """The batch cdcjson expressions work unchanged on a streaming DF
    (single-parse fast path: lines go straight to typed_mutations)."""
    return cdcjson.typed_mutations(lines, payload_schema, key_cols)


def streaming_lww(
    typed: DataFrame,
    key_cols: list[str],
    output_schema: str,
    tie_breaker: list[str] | None = None,
) -> DataFrame:
    """Stateful last-write-wins across micro-batches.

    Keeps, per key, the row with the max HLC seen so far and emits the
    current winner every batch (update semantics). State is one row per
    key — the streaming analogue of msort.UniqueByKey where the batch
    boundary no longer bounds the dedup window. ``tie_breaker`` columns
    extend the (nanos, logical) order the same way the batch dedup's
    do: without one, equal-HLC mutations would pick whichever row
    arrived last in partition order — nondeterministic across runs.
    """
    value_cols = [c for c in typed.columns if c not in key_cols]
    flat = typed.select(
        *key_cols,
        *[c for c in value_cols if c not in ("__ts", "__deleted")],
        F.col("__ts.nanos").alias("__nanos"),
        F.col("__ts.logical").alias("__logical"),
        F.col("__deleted").alias("__del"),
    )
    state_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in flat.schema.fields
    )

    cols = list(flat.columns)  # plain list: the closure must not capture the DataFrame
    order_cols = ["__nanos", "__logical", *(tie_breaker or [])]

    # The state and output frames are object-typed: pyspark concatenates
    # the yielded frames with an all-None object frame, and a float64
    # column there makes pandas warn that the concat's result dtype will
    # change (empty/all-NA entries will count). Arrow casts each object
    # column to the output schema's type on the way back.
    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        best = pd.DataFrame([state.get], columns=cols, dtype=object) if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values(order_cols).tail(1)
            cand = tuple(pdf.iloc[0][c] for c in order_cols)
            if best is None or cand > tuple(best.iloc[0][c] for c in order_cols):
                best = pdf[cols].astype(object)
        state.update(tuple(best.iloc[0]))
        yield best

    return flat.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(
    typed: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window aggregation over the mutation stream —
    late rows beyond the watermark are dropped, state is bounded."""
    with_time = typed.withColumn(
        "event_time", (F.col("__ts.nanos") / F.lit(1_000_000_000)).cast("timestamp")
    ).withWatermark("event_time", watermark)
    return with_time.groupBy(F.window("event_time", window)).agg(
        F.count(F.lit(1)).alias("n_mutations"),
        F.sum(F.col("__deleted").cast("long")).alias("n_deletes"),
    )


def bucket_col(key_cols: list[str], n_buckets: int):
    """Deterministic key-bucket partition value for a bucketed target."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)).cast(
        "int"
    )


def init_bucketed_target(df: DataFrame, path: str, key_cols: list[str], n_buckets: int) -> None:
    """Write the initial target snapshot partitioned by key bucket, one
    ``__kb=<b>`` directory per bucket, so a micro-batch's commit swaps
    in only the buckets it touched instead of rewriting the whole table
    (``TargetStore.commit``)."""
    df.withColumn("__kb", bucket_col(key_cols, n_buckets)).write.mode(
        "overwrite"
    ).partitionBy("__kb").parquet(path)
    _write_schema_sentinel(df, path)


def _write_schema_sentinel(df: DataFrame, path: str) -> None:
    """A permanent zero-row parquet under ``__kb=-1``: real buckets are
    pmod-assigned (never negative), so the sentinel contributes no rows
    and is never touched/overwritten — but its footer keeps the table's
    schema readable even when deletes empty every real partition (an
    all-partitions-removed parquet dir would otherwise fail schema
    inference)."""
    import pyarrow.parquet as pq

    sdir = os.path.join(path, "__kb=-1")
    os.makedirs(sdir, exist_ok=True)
    pq.write_table(df.limit(0).toArrow(), os.path.join(sdir, "schema-sentinel.parquet"))


class TargetStore:
    """The parquet target of ``StreamingApplier``: its layout, the read
    an apply starts from, and the commit of the result. The applier's
    parked store is an unbucketed ``TargetStore`` too.

    With ``n_buckets`` the target is partitioned by key bucket ``__kb``
    (``init_bucketed_target``). Mutations only change rows in their own
    keys' buckets, so the read is pruned to the touched buckets and the
    commit replaces exactly those. Without ``n_buckets`` the commit
    replaces the whole directory (the local stand-in for a transactional
    UPSERT; under Delta/Iceberg the apply plan is the same either way).

    An applier materializes its micro-batch once, in a job that also
    yields its stats and touched buckets (``materialize``); the commit
    then writes the snapshot with no checkpoint of its own.

    After a crash, each bucket (or the whole unbucketed directory) holds
    either what it held before the batch or what the batch made of it:
    every directory is replaced by ``artifact.replace_dir``, and opening
    the store restores any directory a crash left aside. The applied
    ledger is marked only after the commit, so the stream replays the
    batch under the same id and the whole batch is applied again; under
    LWW that is idempotent on buckets already swapped. A CAS rule judges
    the replayed mutations against their own result, so an applied one
    can still be dead-lettered on replay.
    """

    def __init__(self, path: str, key_cols: list[str], n_buckets: int | None):
        self.path = path
        self.bucket = bucket_col(key_cols, n_buckets) if n_buckets else None
        # Restore what a commit killed mid-swap left aside: the whole
        # directory, or its touched buckets.
        artifact.recover_dir(path)
        artifact.recover_children(path)
        self.schema = None  # inferred by the first read

    def materialize(self, frame: DataFrame, *aggs) -> tuple[DataFrame, dict, list[int] | None]:
        """One eager ``localCheckpoint`` of ``frame`` whose job also
        computes ``aggs``, the row count ``n`` and, when bucketed, the
        buckets ``frame`` touches (all through ``df.observe``). Returns
        the checkpointed frame, the stats by alias and the touched bucket
        ids (None when unbucketed). The caller frees the frame with
        ``release_checkpoint``."""
        metrics = [*aggs, F.count(F.lit(1)).alias("n")]
        if self.bucket is not None:
            metrics.append(F.collect_set(self.bucket).alias("__touched"))
        obs = Observation()
        frame = frame.observe(obs, *metrics).localCheckpoint(eager=True)
        stats = obs.get
        return frame, stats, stats.pop("__touched", None)

    def read(self, spark: SparkSession, touched: list[int] | None) -> DataFrame:
        """The target rows an apply starts from. Only the first read
        infers the schema from the parquet footers (a Spark job); later
        reads reuse it. That holds because a commit writes back exactly
        the columns ``read`` returned, and mutations are typed from the
        target's own schema, so the types stay too."""
        if self.schema is None:
            target = spark.read.parquet(self.path)
            self.schema = target.schema
        else:
            target = spark.read.schema(self.schema).parquet(self.path)
        if self.bucket is None:
            return target
        return target.filter(F.col("__kb").isin(touched)).drop("__kb")

    def commit(self, snapshot: DataFrame | None, touched: list[int] | None) -> None:
        """Replace what ``read`` returned with ``snapshot`` (None: no
        rows), whose lineage may read the target.

        One Spark job writes the snapshot beside the target, at
        ``path + ".next"`` (partitioned by ``__kb`` when bucketed), so
        the write never touches a directory it reads and a job that
        fails leaves the target as it was. Then ``artifact.replace_dir``
        swaps in what the write replaces: unbucketed, the whole
        directory; bucketed, each touched ``__kb=<b>``. A touched bucket
        the write left empty is removed through the same aside rename,
        and one with no directory yet is renamed in. Each swapped bucket
        is the directory the write made, renamed, not files copied."""
        nxt = self.path + ".next"
        if snapshot is None:
            shutil.rmtree(nxt, ignore_errors=True)
            os.makedirs(nxt)
        elif self.bucket is None:
            snapshot.write.mode("overwrite").parquet(nxt)
        else:
            snapshot.withColumn("__kb", self.bucket).write.mode("overwrite").partitionBy(
                "__kb"
            ).parquet(nxt)
        if self.bucket is None:
            artifact.replace_dir(nxt, self.path)
            return
        for b in touched:
            new = os.path.join(nxt, f"__kb={b}")
            artifact.replace_dir(
                new if os.path.isdir(new) else None, os.path.join(self.path, f"__kb={b}")
            )
        shutil.rmtree(nxt)


class StreamingApplier:
    """foreachBatch sink: applies each micro-batch onto a parquet target,
    picking the sequencer that plans the batch first.

    Reference: ``internal/sequencer/switcher/switcher.go`` only swaps
    which sequencer plans a batch; every mode shares one acceptor stack
    (``once.go``, ``marker.go``, apply and DLQ, composed per group in
    ``switcher/group.go``). Here the swap is a per-micro-batch choice,
    recorded in ``mode_history`` (the last 1024 batches):

      serial (ModeConsistent) -> seq_serial: apply only the mutations a
                                 resolved stamp covers; park the rest.
      besteffort / immediate  -> apply_mutations: apply everything (best
                                 effort without an FK parent is exactly
                                 the immediate apply).

    Serial needs a resolved feed (``resolved_dir``, ndjson
    ``{"resolved": "<hlc>"}`` lines) and a parked store
    (``parked_path``). ``switcher_mode`` leaves it for best effort when
    the backlog (batch plus parked rows) passes ``backlog_limit`` or the
    newest mutation runs ``lag_limit_nanos`` past the newest stamp;
    without a feed it is immediate. Parked rows are re-offered to every
    later batch whatever its mode, so a mid-stream flip converges.

    After the choice every mode runs one path:
      1. ledger filter: with ``staging`` (a StagingTable), mutations
         already applied are dropped, so a batch replayed under its id
         (or redelivered later) applies nothing twice;
      2. the parked rows join the filtered batch and ``TargetStore.
         materialize`` checkpoints the work set once; its job also
         yields the row count, the max (and, with a feed, min) HLC, the
         parked rows read and the touched buckets. The resolved stamps
         are read once (one job);
      3. sequence (above). Serial mode hands seq_serial, as literals,
         only the stamps that can cover the work set (``_covering``): no
         stamp aggregate or join in its plan, and a per-row cost that
         does not grow with the stamps the feed has accumulated;
      4. reject route: only with a rule that can reject
         (``ApplyConfig.can_reject``), apply_mutations' ``(key,
         __rej_ts, __reason)`` rows go to ``dlq``, or, with a parked
         store and no ``dlq``, to a queue at ``parked_path + "_dlq"``.
         Serial mode's CAS rejects are final and consumed by
         seq_serial's grouped fold;
      5. commit through the ``TargetStore`` (with ``n_buckets``, only the
         touched buckets are read and rewritten);
      6. the parked store is replaced by what serial mode left over, free
         of duplicate rows, only when it was read non-empty or something
         is parked now;
      7. ledger mark of the work set minus the rejects and minus what was
         parked again;
      8. frontier advance (``checkpoints``): to the newest resolved stamp
         with a feed, else to the work set's max HLC.

    Every checkpoint the call takes is freed before it returns. Deadline
    rules are refused: the applier has no ``now`` to judge them by.
    """

    def __init__(
        self,
        target_path: str,
        key_cols: list[str],
        cfg: ApplyConfig | None = None,
        tie_breaker: list[str] | None = None,
        dlq=None,
        target_table: str = "target",
        checkpoints=None,  # operators.checkpoint.CheckpointGroup
        staging=None,  # operators.staging.StagingTable: once/marker replay guard
        n_buckets: int | None = None,  # target partitioned by key bucket
        *,
        parked_path: str | None = None,
        resolved_dir: str | None = None,
        backlog_limit: int = 10_000,
        lag_limit_nanos: int = 60 * 1_000_000_000,
    ):
        self.cfg = cfg or ApplyConfig()
        if self.cfg.deadlines:
            raise ValueError("deadline rules need an explicit `now`; a streaming applier has none")
        if resolved_dir is not None and parked_path is None:
            raise ValueError("serial mode (resolved_dir) parks mutations: set parked_path")
        self.store = TargetStore(target_path, key_cols, n_buckets)
        self.parked = None if parked_path is None else TargetStore(parked_path, key_cols, None)
        self.key_cols = key_cols
        self.tie_breaker = tie_breaker
        self.target_table = target_table
        self.checkpoints = checkpoints
        self.staging = staging
        self.resolved_dir = resolved_dir
        self.backlog_limit = backlog_limit
        self.lag_limit_nanos = lag_limit_nanos
        if parked_path is not None:
            os.makedirs(parked_path, exist_ok=True)
            if dlq is None:
                dlq = DeadLetterQueue(SparkSession.active(), parked_path + "_dlq")
        self.dlq = dlq
        self.mode_history: list[tuple[int, str]] = []

    def _resolved_stamps(self, spark: SparkSession) -> list | None:
        """Every resolved stamp (one job), or None without a feed."""
        if self.resolved_dir is None or not os.path.isdir(self.resolved_dir):
            return None
        raw = spark.read.schema("resolved string").json(self.resolved_dir)
        ts = parse_hlc(F.col("resolved"))
        return [r.ts for r in raw.select(ts.alias("ts")).filter(ts.isNotNull()).collect()]

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if self.staging is not None:
            # once semantics (the reference's sequencer once.go): a
            # crash between snapshot write and stream-checkpoint commit
            # replays the micro-batch; the applied ledger makes the
            # replay a no-op instead of a double-apply/double-DLQ. The
            # ledger is keyed by (key, HLC), not by batch: the target
            # carries no HLC, so only this anti-join stops a redelivered
            # older mutation in a LATER micro-batch from overwriting a
            # newer row.
            batch = self.staging.filter_applied(batch, self.key_cols, ts_col="__ts")
        aggs = [F.max("__ts").alias("hlc")]
        if self.resolved_dir is not None:
            aggs.append(F.min("__ts").alias("lo"))
        if self.parked is not None:
            # Parked rows were never marked applied, so they join after
            # the ledger filter; tagged, so the same job counts them.
            parked = spark.read.schema(batch.schema).parquet(self.parked.path)
            batch = batch.withColumn("__parked", F.lit(False)).unionByName(
                parked.withColumn("__parked", F.lit(True))
            )
            aggs.append(F.count_if("__parked").alias("parked_in"))
        # Materialized BEFORE mark_applied appends to the ledger the
        # anti-join above reads, so nothing below re-runs the anti-join
        # (or the source's parse) against a changed ledger listing.
        checkpointed, stats, touched = self.store.materialize(batch, *aggs)
        work = checkpointed.drop("__parked")
        hlc, stamps = stats["hlc"], self._resolved_stamps(spark)
        newest = max(stamps or [], default=None)
        lag = 0
        if stamps is not None:
            # group.go flips to best effort when the frontier falls too
            # far behind the incoming feed.
            lag = max(0, (hlc[0] if hlc else 0) - (newest[0] if newest else 0))
        mode = sequencer.switcher_mode(
            stats["n"], lag, backlog_limit=self.backlog_limit,
            lag_limit_nanos=self.lag_limit_nanos,
        )
        if mode == "serial" and stamps is None:
            mode = "immediate"
        self.mode_history.append((batch_id, mode))
        del self.mode_history[:-1024]  # a long-lived stream keeps the recent choices
        with ExitStack() as pinned:
            pinned.callback(release_checkpoint, checkpointed)
            target = self.store.read(spark, touched)
            # What the ledger must not mark: the rejects, or what is
            # parked again. No mode has both.
            left, excluded = None, None
            if mode == "serial":
                snapshot, left = sequencer.seq_serial(
                    target, work, _covering(stamps, stats["lo"], hlc), self.key_cols,
                    self.cfg, ts_col="__ts",
                    tie_breaker=self.tie_breaker,
                )
                left, left_stats, _ = self.store.materialize(left)
                pinned.callback(release_checkpoint, left)
                left = excluded = left if left_stats["n"] else None
            else:
                snapshot, rejected = apply_mutations(
                    target, work, self.key_cols, self.cfg, tie_breaker=self.tie_breaker,
                )
                # Without a rule that can reject, the reject frame is empty
                # by construction: no checkpoint, no DLQ call.
                if self.cfg.can_reject:
                    if self.staging is not None:
                        # The ledger exclusion below reads the rejects after
                        # the commit has replaced the target their lineage reads.
                        rejected = rejected.localCheckpoint(eager=True)
                        pinned.callback(release_checkpoint, rejected)
                        # Rejected mutations stay OUT of the ledger so a DLQ
                        # replay or retry isn't silently dropped by filter_applied.
                        excluded = rejected
                    if self.dlq is not None:
                        # The DLQ checkpoints its rendered frame once and
                        # early-outs on an empty reject set.
                        self.dlq.enqueue(rejected, self.target_table)
            self.store.commit(snapshot, touched)
            if left is not None or stats.get("parked_in"):
                self._park(left)
            if self.staging is not None:
                # marker-decorator: record the batch applied only after the
                # snapshot write landed (crash before this line -> replay is
                # filtered next time by LWW idempotence, not double-marked).
                applied = work if excluded is None else mark_exclude_rejected(
                    work, excluded, self.key_cols, ts_col="__ts"
                )
                self.staging.mark_applied(applied, self.key_cols, ts_col="__ts")
        # Durable applied-through frontier (staging/checkpoint), recorded
        # AFTER the snapshot write lands, so a restart resumes from a
        # timestamp whose effects are on disk.
        mark = hlc if stamps is None else newest
        if self.checkpoints is not None and mark is not None:
            cur = self.checkpoints.resolved(self.target_table)
            if cur is None or (mark[0], mark[1]) > cur:
                # pass cur: advance() then skips its own re-read of
                # the memo log (one scan per batch, not three)
                self.checkpoints.advance(self.target_table, mark[0], mark[1], cur=cur)

    def _park(self, left: DataFrame | None) -> None:
        """Replace the parked store with ``left`` (None empties it). A
        replayed batch parks its own pending rows beside their stored
        copies, so exact duplicates are dropped; distinct mutations that
        share a key and an HLC differ in some column and stay."""
        self.parked.commit(None if left is None else left.dropDuplicates(), None)


def _covering(stamps: list, lo, hi) -> list:
    """The sorted stamps that can cover a mutation stamped in ``[lo, hi]``:
    from ``lo`` up to the first stamp at or above ``hi``. A mutation's
    covering stamp is the first at or above its own HLC, so it lies in
    this range, and seq_serial splits and folds the same over it as over
    every stamp. Empty when the work set has no HLC."""
    if lo is None:
        return []
    s = sorted(map(tuple, stamps))
    return s[bisect_left(s, tuple(lo)) : bisect_left(s, tuple(hi)) + 1]


def run_pipeline_once(
    spark: SparkSession,
    feed_dir: str,
    target_path: str,
    payload_schema: str,
    key_cols: list[str],
    checkpoint_dir: str,
    checkpoints=None,
    target_table: str = "target",
) -> None:
    """One availableNow pass: parse -> foreachBatch apply (A21 e2e).
    ``checkpoints`` (CheckpointGroup) persists the applied-through HLC
    frontier across restarts, alongside Spark's own stream checkpoint."""
    lines = stream_ndjson(spark, feed_dir)
    typed = stream_typed_mutations(lines, payload_schema, key_cols)
    q = (
        typed.writeStream.foreachBatch(
            StreamingApplier(
                target_path, key_cols, checkpoints=checkpoints, target_table=target_table
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_dedup_time_key(
    typed: DataFrame, key_cols: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Streaming analogue of msort.UniqueByTimeKey: exactly-once delivery
    of each (time, key) across micro-batches, with the dedup state
    bounded by the watermark (late replays beyond it are dropped — the
    same trade the reference makes when it retires staged mutations)."""
    with_time = typed.withColumn(
        "event_time", (F.col("__ts.nanos") / F.lit(1_000_000_000)).cast("timestamp")
    ).withWatermark("event_time", watermark)
    return with_time.dropDuplicatesWithinWatermark([*key_cols, "__ts"])


def stream_stream_enrich(
    muts: DataFrame,
    dims: DataFrame,
    key: str,
    dim_key: str,
    watermark: str = "1 hour",
    join_window: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream join: enrich a mutation stream with a
    dimension-change stream (the two-changefeed shape). Both sides carry
    event time from the HLC; the range condition bounds the state each
    side must retain.

    Contract: emits one row per (fact, dim VERSION visible in the
    window) — tombstoned dim versions are dropped, but a fact whose dim
    changed k times inside the window joins k versions. Streaming can't
    cheaply pick "the latest as of the fact" inside the join itself;
    callers that need exactly one enrichment per fact follow with the
    standard max_by(d_time) aggregation keyed on the fact id (or use
    the batch as-of join for bounded data)."""
    m = muts.withColumn(
        "m_time", (F.col("__ts.nanos") / F.lit(1_000_000_000)).cast("timestamp")
    ).withWatermark("m_time", watermark)
    d_src = dims
    if "__deleted" in dims.columns:
        # A deleted dim version must not enrich facts after its
        # tombstone; the delete itself carries no attributes to join.
        d_src = dims.filter(~F.col("__deleted"))
    d = d_src.select(
        F.col(dim_key).alias("__dk"),
        F.col("__ts").alias("__dts"),
        *[c for c in dims.columns if c not in (dim_key, "__ts", "__deleted")],
    ).withColumn(
        "d_time", (F.col("__dts.nanos") / F.lit(1_000_000_000)).cast("timestamp")
    ).withWatermark("d_time", watermark)
    cond = (
        (m[key] == d["__dk"])
        & (d["d_time"] <= m["m_time"])
        & (d["d_time"] >= m["m_time"] - F.expr(f"INTERVAL {join_window}"))
    )
    return m.join(d, cond, "inner").drop("__dk")
