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
"""

from __future__ import annotations

import os
import shutil
from contextlib import ExitStack
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cdc_sink_spark.operators import artifact, decorators
from cdc_sink_spark.operators.apply import ApplyConfig, apply_mutations
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
    """Write the initial target snapshot partitioned by key bucket so the
    streaming appliers can dynamic-partition-overwrite only touched
    buckets per micro-batch instead of rewriting the whole table."""
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
    """The parquet target of both streaming appliers: its layout, the
    read an apply starts from, and the commit of the result.

    With ``n_buckets`` the target is partitioned by key bucket ``__kb``
    (``init_bucketed_target``). Mutations only change rows in their own
    keys' buckets, so the read is pruned to the touched buckets and the
    commit rewrites exactly those. Without ``n_buckets`` the commit swaps
    in the whole snapshot (the local stand-in for a transactional UPSERT;
    under Delta/Iceberg the apply plan is the same either way).

    An applier materializes its micro-batch once, in a job that also
    yields its stats and touched buckets (``materialize``); the bucketed
    commit then writes the snapshot with no checkpoint of its own.
    """

    def __init__(self, path: str, key_cols: list[str], n_buckets: int | None):
        self.path = path
        self.bucket = bucket_col(key_cols, n_buckets) if n_buckets else None
        artifact.recover_dir(path)  # an unbucketed commit killed mid-swap
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

    def commit(self, snapshot: DataFrame, touched: list[int] | None) -> None:
        """Replace what ``read`` returned with ``snapshot``, whose lineage
        reads the target.

        Unbucketed, the snapshot is written beside the target and swapped
        in by ``artifact.replace_dir``. Bucketed, it is written straight
        through a dynamic partition overwrite: Spark writes every task's
        output to a staging directory and replaces the ``__kb=<b>``
        directories only at job commit, after every task that reads the
        target has finished, so the write may read the buckets it
        replaces. A job that fails leaves every bucket as it was."""
        if self.bucket is None:
            nxt = self.path + ".next"
            snapshot.write.mode("overwrite").parquet(nxt)
            artifact.replace_dir(nxt, self.path)
            return
        # Dynamic overwrite replaces only the buckets present in the
        # output, so a touched bucket the batch emptied would keep its
        # stale files. The write job itself observes which it wrote.
        present = Observation()
        (
            snapshot.withColumn("__kb", self.bucket)
            .observe(present, F.collect_set("__kb").alias("kb"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__kb")
            .parquet(self.path)
        )
        for b in set(touched) - set(present.get["kb"]):
            shutil.rmtree(os.path.join(self.path, f"__kb={b}"), ignore_errors=True)


class StreamingApplier:
    """foreachBatch sink: applies each micro-batch onto a parquet target
    snapshot via the batch apply operator (sequencer/immediate shape).

    The target is a ``TargetStore``. Each micro-batch, after the applied
    ledger's anti-join, is materialized once by ``TargetStore.materialize``,
    whose job also finds its max HLC and touched buckets; the apply, the
    DLQ, the commit and the ledger mark all read that checkpoint, and the
    call frees every checkpoint it takes before it returns. With
    ``n_buckets`` set, the store reads and rewrites only the touched
    buckets and deletes any the batch emptied, which the write job reports
    through ``df.observe``. Untouched buckets are never read or rewritten.
    Without ``n_buckets`` the store swaps in the whole snapshot. Without a
    rule that can reject (``ApplyConfig.can_reject``) the reject path is
    skipped: the DLQ is never called and the whole batch is marked.
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
    ):
        self.store = TargetStore(target_path, key_cols, n_buckets)
        self.key_cols = key_cols
        self.cfg = cfg or ApplyConfig()
        self.tie_breaker = tie_breaker
        self.dlq = dlq
        self.target_table = target_table
        self.checkpoints = checkpoints
        self.staging = staging

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if self.staging is not None:
            # once-decorator semantics (sequencer/decorators/once.go): a
            # crash between snapshot write and stream-checkpoint commit
            # replays the micro-batch; the applied ledger makes the
            # replay a no-op instead of a double-apply/double-DLQ. The
            # ledger is keyed by (key, HLC), not by batch: the target
            # carries no HLC, so only this anti-join stops a redelivered
            # older mutation in a LATER micro-batch from overwriting a
            # newer row.
            batch = self.staging.filter_applied(batch, self.key_cols, ts_col="__ts")
        # Materialized BEFORE mark_applied appends to the ledger the
        # anti-join above reads, so nothing below re-runs the anti-join
        # (or the source's parse) against a changed ledger listing.
        frontier = [F.max("__ts").alias("hlc")] if self.checkpoints is not None else []
        batch, stats, touched = self.store.materialize(batch, *frontier)
        with ExitStack() as pinned:
            pinned.callback(release_checkpoint, batch)
            snapshot, rejected = apply_mutations(
                self.store.read(spark, touched), batch, self.key_cols, self.cfg,
                tie_breaker=self.tie_breaker,
            )
            applied = batch
            # Without a rule that can reject, the reject frame is empty by
            # construction: no checkpoint, no DLQ call, no ledger exclusion.
            if self.cfg.can_reject:
                if self.staging is not None:
                    # The ledger exclusion below reads the rejects after
                    # the commit has replaced the target their lineage reads.
                    rejected = rejected.localCheckpoint(eager=True)
                    pinned.callback(release_checkpoint, rejected)
                    # Rejected mutations stay OUT of the ledger so a DLQ
                    # replay or retry isn't silently dropped by filter_applied.
                    applied = decorators.mark_exclude_rejected(
                        batch, rejected, self.key_cols, ts_col="__ts"
                    )
                if self.dlq is not None:
                    # The DLQ checkpoints its rendered frame once and
                    # early-outs on an empty reject set.
                    self.dlq.enqueue(rejected, self.target_table)
            self.store.commit(snapshot, touched)
            if self.staging is not None:
                # marker-decorator: record the batch applied only after the
                # snapshot write landed (crash before this line -> replay is
                # filtered next time by LWW idempotence, not double-marked).
                self.staging.mark_applied(applied, self.key_cols, ts_col="__ts")
        if self.checkpoints is not None and stats["hlc"] is not None:
            # Durable applied-through frontier (staging/checkpoint): the
            # batch max HLC becomes the partition mark AFTER the snapshot
            # write lands, so a restart resumes from a timestamp whose
            # effects are guaranteed on disk.
            mx = stats["hlc"]
            cur = self.checkpoints.resolved(self.target_table)
            if cur is None or (mx[0], mx[1]) > cur:
                # pass cur: advance() then skips its own re-read of
                # the memo log (one scan per batch, not three)
                self.checkpoints.advance(self.target_table, mx[0], mx[1], cur=cur)


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


class ModeSwitchingApplier:
    """switcher.go as a foreachBatch policy: a meta-sequencer that picks
    the apply mode PER MICRO-BATCH from live backlog pressure.

    Reference: ``internal/sequencer/switcher/switcher.go:70`` (Start
    swaps delegate sequencers when the mode variable changes) +
    ``group.go:109 switchModeLocked``. The reference flips a long-lived
    delegate under a notify.Var; in Spark's micro-batch model the same
    contract is cheaper — every batch already passes through one policy
    point, so "switching" is just choosing which sequencer plans THIS
    batch. The three delegates map onto the repo's sequencer operators:

      serial (ModeConsistent)   -> seq_serial, collapse_windows: apply
                                   only mutations covered by a resolved
                                   stamp; the rest stay parked.
      besteffort (ModeBestEffort)-> seq_besteffort: apply everything
                                   applicable now, park failures.

    Parked mutations live in a durable parquet store and are re-offered
    on EVERY subsequent batch regardless of mode, which is what makes a
    mid-stream flip converge: anything serial left behind is drained by
    a later batch (or the stream's final batch) exactly like the
    reference's staged-mutation sweep.
    """

    def __init__(
        self,
        target_path: str,
        key_cols: list[str],
        parked_path: str,
        cfg: ApplyConfig | None = None,
        tie_breaker: list[str] | None = None,
        backlog_limit: int = 10_000,
        lag_limit_nanos: int = 60 * 1_000_000_000,
        resolved_dir: str | None = None,
        checkpoints=None,
        target_table: str = "target",
        n_buckets: int | None = None,  # target partitioned by key bucket
        dlq=None,  # DeadLetterQueue for FINAL (cas/deadline) rejections;
        # None -> an implicit durable queue at parked_path + "_dlq" is
        # created on first use (finals are never silently dropped)
    ):
        self.store = TargetStore(target_path, key_cols, n_buckets)
        self.key_cols = key_cols
        self.parked_path = parked_path
        self.cfg = cfg
        self.tie_breaker = tie_breaker
        self.backlog_limit = backlog_limit
        self.lag_limit_nanos = lag_limit_nanos
        self.resolved_dir = resolved_dir
        self.checkpoints = checkpoints
        self.target_table = target_table
        self.dlq = dlq
        self.mode_history: list[tuple[int, str]] = []

    def _resolved_stamps(self, spark: SparkSession) -> DataFrame | None:
        if self.resolved_dir is None or not os.path.isdir(self.resolved_dir):
            return None
        from cdc_sink_spark.functions.hlc import parse_hlc

        raw = spark.read.schema("resolved string").json(self.resolved_dir)
        return raw.select(parse_hlc(F.col("resolved")).alias("ts")).filter(
            F.col("ts").isNotNull()
        )

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if os.path.isdir(self.parked_path):
            parked = spark.read.schema(batch.schema).parquet(self.parked_path)
        else:
            parked = batch.limit(0)
        # Materialize the WORK set once: the sequencer reads it, and what
        # it leaves over is written back to the parked store it reads. The
        # same job yields the whole mode decision's input (backlog depth +
        # newest mutation ts) and the touched buckets: those of the work
        # set, since any parked row can drain this batch.
        work, stats, touched = self.store.materialize(
            batch.unionByName(parked), F.max("__ts.nanos").alias("hi")
        )
        with ExitStack() as pinned:
            pinned.callback(release_checkpoint, work)
            self._apply(spark, work, stats, touched, batch_id, pinned)

    def _apply(self, spark, work, stats, touched, batch_id, pinned: ExitStack) -> None:
        from cdc_sink_spark.operators import sequencer

        resolved = self._resolved_stamps(spark)
        lag, fr = 0, None
        if resolved is not None:
            # The newest frontier stamp, read once: the mode decision's
            # lag and the mark checkpoints.advance records are the same
            # stamp. Lag is newest mutation vs newest frontier stamp
            # (group.go flips to besteffort when the frontier falls too
            # far behind the incoming feed).
            fr = resolved.agg(F.max("ts")).first()[0]
            lag = max(0, (stats["hi"] or 0) - (fr[0] if fr is not None else 0))
        mode = sequencer.switcher_mode(
            stats["n"], lag, backlog_limit=self.backlog_limit,
            lag_limit_nanos=self.lag_limit_nanos,
        )
        if mode == "serial" and resolved is None:
            mode = "immediate"  # no frontier feed: core degenerates
        self.mode_history.append((batch_id, mode))
        target = self.store.read(spark, touched)
        if mode == "serial":
            # Plain LWW collapses all covered windows into one apply;
            # with CAS configured the per-window ratchet is semantic —
            # and with a TOAST sentinel the placeholder must resolve
            # against the PRIOR WINDOW's winner, not the pre-batch
            # target — so either routes through the grouped per-key
            # window fold instead.
            collapse = not (
                self.cfg
                and (self.cfg.cas_columns or self.cfg.toast_sentinel is not None)
            )
            snapshot, left_over = sequencer.seq_serial(
                target, work, resolved, self.key_cols, self.cfg,
                collapse_windows=collapse, ts_col="__ts",
                tie_breaker=self.tie_breaker,
            )
        else:
            # "besteffort", and "immediate" (no resolved feed yet) which
            # is best-effort without an FK parent: apply-and-park-failures.
            snapshot, left_over = sequencer.seq_besteffort(
                target, work, self.key_cols, cfg=self.cfg, ts_col="__ts",
                tie_breaker=self.tie_breaker, with_reason=True,
            )
        left_over = left_over.localCheckpoint(eager=True)
        pinned.callback(release_checkpoint, left_over)
        if "__park_reason" in left_over.columns:
            # CAS- and deadline-rejected mutations are FINAL under this
            # class's own semantics (the CAS ratchet only rises, time only
            # moves forward — see seq_serial's rejection contract), so
            # re-parking them would re-apply and re-park the same rows
            # every micro-batch forever AND inflate the backlog count that
            # feeds switcher_mode (a sustained CAS conflict could latch
            # the pipeline into besteffort permanently). Route them to the
            # DLQ (idempotent enqueue — crash-replayed batches won't
            # duplicate entries); only genuinely retryable parks (FK
            # orphans, serial's uncovered pending) go back to the store.
            is_final = F.col("__park_reason").isin("cas", "deadline")
            final = left_over.filter(is_final)
            left_over = left_over.filter(
                ~F.coalesce(is_final, F.lit(False))
            ).drop("__park_reason")
            if self.dlq is None and not final.isEmpty():
                # No DLQ configured but final rejections occurred: default
                # to a durable implicit DLQ beside the parked store rather
                # than dropping rows (a restart would zero any in-memory
                # counter — CAS/deadline rejects must stay inspectable and
                # replayable, exactly like the pre-r13 parked store, just
                # without the infinite re-apply loop).
                from cdc_sink_spark.operators.dlq import DeadLetterQueue

                self.dlq = DeadLetterQueue(spark, self.parked_path + "_dlq")
            if self.dlq is not None:
                self.dlq.enqueue(
                    final.withColumnRenamed("__park_reason", "__reason"),
                    self.target_table,
                )
        self.store.commit(snapshot, touched)
        # The parked store stays a whole-store rewrite: it is
        # FAILURE-sized (shrinks to zero in steady state), so the rewrite
        # volume is already proportional to the parked backlog, never to
        # the table.
        left_over.write.mode("overwrite").parquet(self.parked_path)
        if self.checkpoints is not None and fr is not None:
            cur = self.checkpoints.resolved(self.target_table)
            if cur is None or (fr[0], fr[1]) > cur:
                self.checkpoints.advance(self.target_table, fr[0], fr[1], cur=cur)


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
