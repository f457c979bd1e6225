"""Persisted LSH band index: the steady-state shape of incremental dedup.

A production near-dup pipeline does NOT re-fingerprint its corpus per
crawl batch: yesterday's band index is already materialized, and a new
batch (a) computes signatures for ITS documents only, (b) equi-joins
the persisted index on the band key, and (c) appends its own bands so
tomorrow's batch sees it. Per-batch cost is O(batch) compute + one
index read — never O(corpus) signature recompute.

Spark-first persistence: the grouped buckets are written as a BUCKETED
parquet table clustered on the full band key, so the steady-state probe
join shuffles ONLY the batch side — the index side is read pre-hashed
into its buckets (no Exchange above its scan). Appends land in a plain
"delta" directory (bucketed tables can't be appended without a shuffle
per batch); ``compact()`` folds deltas back into the bucketed base the
same way the memo store self-compacts. Both live in the version
directory ``build`` resolves (``operators/artifact.py``); only ``append``
and ``compact`` change it after its build. The reference has no analogue
(this is a training-data operator); the LSH math is shared verbatim
with queries/textops.py's full-corpus path.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_sink_spark.functions import text as T
from cdc_sink_spark.operators import artifact

KEYS = ["band", *[f"k{r}" for r in range(T.LSH_ROWS)]]


def signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig) minhash signatures; docs too short to shingle are
    dropped (same guard as the full-corpus path — the predicate is on
    raw text so it can't be pushdown-duplicated below the shingle
    pipeline)."""
    c = docs.filter(F.size(T.tokens(F.col("text"))) >= T.SHINGLE_N)
    # Stage the token array as a real attribute before shingling: the
    # shingle lambda references the token array per n-gram position, and
    # HOF lambdas re-evaluate non-attribute outer expressions once per
    # element — an inline tokens(text) ran the regexp tokenizer per
    # shingle (sids stage 0.90s -> 0.47s at sf0.1, paired).
    toks = c.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    sids = toks.select("doc_id", T.shingle_ids_from_tokens(F.col("toks")).alias("sids"))
    return sids.select("doc_id", T.minhash_signature("sids").alias("sig"))


# One (band, k0..k_r) struct per band, as SQL text generated from T's
# LSH parameters (see functions/text.py on why constant-heavy
# expressions are text); ``sig[i]`` is 0-based, as Column.getItem.
BAND_KEYS_SQL = "array({})".format(
    ", ".join(
        "named_struct('band', {}, {})".format(
            b,
            ", ".join(
                f"'k{r}', sig[{b * T.LSH_ROWS + r}]" for r in range(T.LSH_ROWS)
            ),
        )
        for b in range(T.LSH_BANDS)
    )
)


def band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig, band, k0..k_r): one row per (doc, band), produced by
    ONE inline of an array of band-key structs (a per-band union would
    re-execute the signature lineage once per band)."""
    return sigs.selectExpr("doc_id", "sig", f"inline({BAND_KEYS_SQL})")


class BandIndex:
    """A persisted LSH band index under ``path``.

    Layout::

        path/v-<sha256>/base/   bucketed parquet table (CLUSTERED BY the band key)
        path/v-<sha256>/delta/  plain parquet appends awaiting compaction

    The version is ``artifact.build_once`` of the build fingerprint
    (corpus id + LSH params). ``build`` resolves it, building it the
    first time, and registers its bucketed base in the session catalog
    as ``table_name``: the in-memory catalog forgets bucketing metadata
    across sessions, the files don't.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        table_name: str,
        n_buckets: int = 32,
        bucket_cap: int = 5_000,
    ):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.table_name = table_name
        self.n_buckets = n_buckets
        self.bucket_cap = bucket_cap
        self.version: str | None = None  # resolved by build()

    def _params(self) -> dict:
        return {
            "n_hashes": T.N_HASHES,
            "bands": T.LSH_BANDS,
            "shingle_n": T.SHINGLE_N,
            "bucket_cap": self.bucket_cap,
            "n_buckets": self.n_buckets,
        }

    @property
    def _base(self) -> str:
        return os.path.join(self.version, "base")

    @property
    def _delta_dir(self) -> str:
        return os.path.join(self.version, "delta")

    # ----------------------------------------------------------- build
    def _grouped(self, docs: DataFrame) -> DataFrame:
        return (
            band_rows(signatures(docs))
            .groupBy(*KEYS)
            .agg(F.collect_list(F.struct("doc_id", "sig")).alias("idx"))
            .filter(F.size("idx") <= self.bucket_cap)
        )

    def _write_bucketed(self, df: DataFrame, path: str) -> None:
        # bucketBy needs saveAsTable; dropping the external table keeps
        # the files. Overwrite replaces what a killed compaction left.
        scratch = f"{self.table_name}__write"
        self.spark.sql(f"DROP TABLE IF EXISTS {scratch}")
        df.write.bucketBy(self.n_buckets, KEYS[0], *KEYS[1:]).mode(
            "overwrite"
        ).option("path", path).saveAsTable(scratch)
        self.spark.sql(f"DROP TABLE IF EXISTS {scratch}")

    def _register(self) -> None:
        """Point the catalog table at this version's bucketed base. The
        column DDL is derived from the written files' OWN footer schema
        (a hard-coded doc_id:bigint would corrupt reads for any corpus
        whose doc_id is a different type); only the bucket spec is ours
        to re-assert."""
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table_name}")
        scm = self.spark.read.parquet(self._base).schema  # footer read, no scan
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in scm.fields)
        cluster = ", ".join(KEYS)
        self.spark.sql(
            f"CREATE TABLE {self.table_name} ({cols}) "
            f"USING PARQUET CLUSTERED BY ({cluster}) INTO {self.n_buckets} BUCKETS "
            f"LOCATION '{self._base}'"
        )

    def build(self, docs: DataFrame, fingerprint: dict | None = None) -> str:
        """Resolve the index version for ``fingerprint`` and the LSH
        parameters, building it the first time: ONE signature pass over
        the existing corpus, then a bucketed write clustered on the band
        key. A changed corpus or parameterization resolves a new version
        rather than serving stale buckets. Returns the version directory."""
        self.version = artifact.build_once(
            self.path,
            {"params": self._params(), "fingerprint": fingerprint},
            lambda d: self._write_bucketed(self._grouped(docs), os.path.join(d, "base")),
        )
        if not os.path.isdir(self._base):  # a compaction killed mid-swap
            with artifact.locked(self.path):
                artifact.recover_dir(self._base)
        self._register()
        return self.version

    # ---------------------------------------------------------- append
    def append(self, docs: DataFrame) -> None:
        """Add a batch's bands as a plain-parquet delta (O(batch)); the
        bucketed base is untouched. Deltas are grouped per-append (the
        cap applies within the append; cross-delta bucket growth is
        bounded by compaction cadence, the memo-store trade)."""
        self._grouped(docs).write.mode("append").parquet(self._delta_dir)

    def compact(self) -> None:
        """Fold deltas into the bucketed base: one read of base+delta,
        one regroup, one bucketed rewrite swapped in by
        ``artifact.replace_dir`` — run on a cadence, not per batch."""
        with artifact.locked(self.path):
            if not os.path.isdir(self._delta_dir):
                return  # nothing appended, or a concurrent compact drained it
            merged = (
                self.spark.table(self.table_name)
                .unionByName(self.spark.read.parquet(self._delta_dir))
                .select(*KEYS, F.explode("idx").alias("m"))
                .groupBy(*KEYS)
                .agg(F.collect_list("m").alias("idx"))
                .filter(F.size("idx") <= self.bucket_cap)
            )
            tmp = self._base + ".compact"
            self._write_bucketed(merged, tmp)
            self.spark.sql(f"DROP TABLE IF EXISTS {self.table_name}")
            artifact.replace_dir(tmp, self._base)
            shutil.rmtree(self._delta_dir)
            self._register()

    # ----------------------------------------------------------- probe
    def probe(self, docs: DataFrame) -> DataFrame:
        """(new_id, old_id, est): candidate matches for a NEW batch
        against the persisted index. Signatures are computed for the
        batch ONLY; the join on the band key shuffles only the batch
        side (the base is bucketed on exactly these keys). Delta
        buckets, if any, join the same batch bands."""
        return self.probe_signatures(signatures(docs))

    def probe_signatures(self, sigs: DataFrame) -> DataFrame:
        """probe() on precomputed (doc_id, sig) signatures — callers that
        also need the signature frame (e.g. to list surviving batch
        docs) compute it once, checkpoint it, and share it instead of
        paying the shingle+minhash pass twice."""
        # Checkpoint the batch bands ONLY when a delta dir exists (r14):
        # with no delta there is exactly one consumer (the base-table
        # join), and the checkpoint was a pure waste — under AQE a lazy
        # localCheckpoint still pays synchronous planning plus all-but-
        # final stage execution at CONSTRUCTION time (~0.4 s measured),
        # a per-probe cost in the steady state the index exists for.
        bands = band_rows(sigs)
        if os.path.isdir(self._delta_dir):
            bands = bands.localCheckpoint(eager=False)
        est = (
            F.size(
                F.filter(
                    F.zip_with(F.col("sig"), F.col("m.sig"), lambda p, q: p == q),
                    lambda x: x,
                )
            )
            / F.lit(T.N_HASHES)
        )

        def hits(index_df: DataFrame) -> DataFrame:
            return (
                bands.join(index_df, KEYS)
                .select("doc_id", "sig", F.explode("idx").alias("m"))
                .select(
                    F.col("doc_id").alias("new_id"),
                    F.col("m.doc_id").alias("old_id"),
                    est.alias("est"),
                )
            )

        out = hits(self.spark.table(self.table_name))
        if os.path.isdir(self._delta_dir):
            out = out.unionByName(hits(self.spark.read.parquet(self._delta_dir)))
        return out.dropDuplicates(["new_id", "old_id"])
