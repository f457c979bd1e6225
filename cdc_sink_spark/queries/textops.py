"""Training-data text operators (SURVEY §2 C-suite: dedup families,
text quality/stats, decontamination, packing, mixing, tokenizer prep).

Near-dup corpora: the synthetic documents are all distinct, so the dedup
suites derive a *mutated twin* per document (the text minus its last 5
tokens, doc_id + 1_000_000) on both engines — giving the pipelines real
positives to find while staying fully oracle-checkable.

All hashing/scoring runs through cdc_sink_spark.functions.text, whose
DuckDB fragment generators emit the identical integer arithmetic — the
oracle verifies the operator, not a reimplementation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_sink_spark.functions import text as T
from cdc_sink_spark.session import spread as _spread

VARIANT_OFFSET = 1_000_000
DROP_TOKENS = 5

# Pathological-bucket guard (SCALE.md "LSH bucket-size cap"): a bucket of
# m members emits m*(m-1)/2 pairs, so one boilerplate-heavy bucket (every
# page sharing a banner) can dominate the whole job at 100 TB. Buckets
# above the cap are dropped from pair generation — near-dup pairs inside
# them are better handled by exact-dup hashing first. The cap is far
# above any bucket size the test corpora produce, so oracle parity holds.
LSH_BUCKET_CAP = 5_000

STOPWORDS = ("the", "a", "of", "and", "to")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_sink_spark.session import table

    return table(spark, sf_dir, "documents")


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ mutated twins (last DROP_TOKENS tokens removed)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    toks = T.tokens(F.col("text"))
    variant = d.select(
        (F.col("doc_id") + VARIANT_OFFSET).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - DROP_TOKENS, F.lit(1))), " ").alias(
            "text"
        ),
    )
    return d.unionByName(variant)


CORPUS_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {VARIANT_OFFSET} AS doc_id,
       array_to_string(list_slice({T.sql_tokens('text')}, 1,
         greatest(len({T.sql_tokens('text')}) - {DROP_TOKENS}, 1)), ' ') AS text
FROM documents
"""


# --------------------------------------------------------------------- C1
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on sha256(text) — one shuffle on the
    hash, min-id survivor per group."""
    c = _corpus(spark, sf_dir)
    return c.groupBy(F.sha2(F.col("text"), 256).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id")
    )


DEDUP_EXACT_SQL = f"""
WITH corpus AS ({CORPUS_SQL})
SELECT sha256(text) AS text_hash, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
FROM corpus GROUP BY 1
"""


# --------------------------------------------------------------------- C2
# Every pair (x, y) of a bucket's sorted members with x before y, as
# (doc_a, doc_b, est_jaccard) rows: SQL text generated from T's
# parameters, like the band keys (functions/text.py says why).
PAIRS_SQL = (
    "inline(flatten(transform(members, (x, i) -> transform("
    "slice(members, i + 2, size(members)), y -> named_struct("
    "'doc_a', x.doc_id, 'doc_b', y.doc_id, 'est_jaccard', "
    "size(filter(zip_with(x.sig, y.sig, (p, q) -> p = q), m -> m)) / "
    f"{T.N_HASHES})))))"
)


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh's pairs before its dedup: a pair that shares
    several band buckets appears once per bucket, each copy with the
    same est_jaccard (same signatures). Callers that ignore duplicate
    edges (the CC loops) read this and skip the dedup's exchange."""
    # The signature/band pipeline is SHARED with the persisted band
    # index (operators/lshindex.py) — one implementation, two consumers,
    # so the incremental index can never drift from the full-corpus
    # path. signatures() applies the too-short-doc guard as a cheap
    # predicate on the RAW text (a size(sids) filter would be pushed
    # below the projection and re-evaluate the shingle pipeline a
    # second time — measured 5x) and keeps the sids fold in its own
    # projection (CollapseProject is cost-aware); band_rows() explodes
    # ONE array of band-key structs (a per-band union re-executes the
    # signature lineage once per branch — measured 4x at sf0.1). The
    # parquet input is a single small file (1-2 splits): spread the
    # CPU-heavy shingle hashing across all cores first.
    from cdc_sink_spark.operators import lshindex

    c = _corpus(spark, sf_dir).transform(_spread)
    bands = lshindex.band_rows(lshindex.signatures(c))

    # Bucket-local pair generation: ONE shuffle on the band key, pairs
    # materialize inside each bucket via collect_list — no self-join (a
    # self-join re-executes the whole signature lineage for each side).
    buckets = bands.groupBy(*lshindex.KEYS).agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "sig"))).alias("members")
    ).filter((F.size("members") > 1) & (F.size("members") <= LSH_BUCKET_CAP))
    return buckets.selectExpr(PAIRS_SQL)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs: shingle -> H-component signature ->
    band buckets -> equi-join within buckets -> signature-agreement
    estimate. The band bucket join replaces the O(n^2) all-pairs scan
    with an equi-join Catalyst can shuffle-plan; the signature compute
    itself is shuffle-free."""
    return _lsh_candidates(spark, sf_dir).dropDuplicates(["doc_a", "doc_b"])


def _minhash_lsh_sql() -> str:
    comps = T.sql_minhash_components("sids")
    sig_list = "[" + ", ".join(comps) + "]"
    band_rows = []
    for b in range(T.LSH_BANDS):
        keys = ", ".join(
            f"sig[{b * T.LSH_ROWS + r + 1}] AS k{r}" for r in range(T.LSH_ROWS)
        )
        band_rows.append(f"SELECT doc_id, sig, {b} AS band, {keys} FROM sigs")
    bands = " UNION ALL ".join(band_rows)
    key_eq = " AND ".join(f"l.k{r} = r.k{r}" for r in range(T.LSH_ROWS))
    agree = (
        f"len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2])) "
        f"* 1.0 / {T.N_HASHES}"
    )
    return f"""
WITH corpus AS ({CORPUS_SQL}),
sids AS (SELECT doc_id, {T.sql_shingle_ids('text')} AS sids FROM corpus),
sigs AS (SELECT doc_id, {sig_list} AS sig FROM sids WHERE len(sids) > 0),
bands AS ({bands}),
hits AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         ANY_VALUE(l.sig) AS sig_a, ANY_VALUE(r.sig) AS sig_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.doc_id < r.doc_id AND {key_eq}
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, {agree} AS est_jaccard FROM hits
"""


# --------------------------------------------------------------------- C3
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints plus top-bit band for hamming-neighborhood
    blocking."""
    # spread (r13): the per-char token fold is the most CPU-bound
    # expression in the suite and ran on the 1-2 scan splits of the
    # single-file corpus (measured 1.20s -> 0.54s at sf0.1 with the
    # fan-out; the adaptive helper makes it a no-op on wide scans).
    c = _corpus(spark, sf_dir).transform(_spread)
    sh = c.select("doc_id", T.simhash(T.tokens(F.col("text"))).alias("simhash"))
    return sh.select("doc_id", "simhash", F.shiftright("simhash", 15).alias("band_hi"))


def _simhash_sql() -> str:
    return f"""
WITH corpus AS ({CORPUS_SQL})
SELECT doc_id, {T.sql_simhash(T.sql_tokens('text'))} AS simhash,
       ({T.sql_simhash(T.sql_tokens('text'))} >> 15) AS band_hi
FROM corpus
"""


# --------------------------------------------------------------------- C4
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for each (doc, twin) candidate pair —
    the verification stage that follows LSH candidate generation."""
    # Per-branch construction + spread (r13): filtering the doc∪twin
    # union kept BOTH union branches alive under each filter (4 scans)
    # and ran the md5 shingle pipeline on the 2 unioned scan splits
    # (measured 7.3s at sf0.1; ~2s after). Building each join side
    # directly from the spread documents scan is the identical pair set:
    # original ids are < VARIANT_OFFSET and every doc has exactly one
    # twin at doc_id + VARIANT_OFFSET (the oracle's join realizes the
    # same pairs).
    # Staged tokens (r13): the shingle lambda re-evaluates a non-attribute
    # token expression once PER SHINGLE (HOF lambdas get no CSE), so both
    # sides tokenize exactly once into a projected attribute. The variant
    # side then slices the STAGED token array instead of re-tokenizing
    # the space-joined variant string: tokens are maximal [a-z0-9]+ runs
    # of the lowercased text, so tokenize(join(" ", slice(toks))) ==
    # slice(toks) exactly — the oracle's string round-trip is arithmetic
    # identity, not extra semantics.
    d = _docs(spark, sf_dir).transform(_spread).select("doc_id", "text")
    td = d.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    orig = td.select(
        F.col("doc_id").alias("doc_a"),
        T.shingle_ids_from_tokens(F.col("toks")).alias("sa"),
    )
    vtoks = F.slice(
        F.col("toks"), 1, F.greatest(F.size("toks") - DROP_TOKENS, F.lit(1))
    )
    var = td.select("doc_id", vtoks.alias("vtoks")).select(
        F.col("doc_id").alias("doc_a"),
        T.shingle_ids_from_tokens(F.col("vtoks")).alias("sb"),
    )
    j = orig.join(var, "doc_a")
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return j.select(
        "doc_a",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


NGRAM_JACCARD_SQL = f"""
WITH corpus AS ({CORPUS_SQL}),
sids AS (SELECT doc_id, {T.sql_shingle_ids('text')} AS s FROM corpus)
SELECT o.doc_id AS doc_a,
  CASE WHEN len(o.s) + len(v.s) - len(list_intersect(o.s, v.s)) > 0
       THEN len(list_intersect(o.s, v.s)) * 1.0 /
            (len(o.s) + len(v.s) - len(list_intersect(o.s, v.s)))
       ELSE 0.0 END AS jaccard
FROM sids o JOIN sids v ON v.doc_id = o.doc_id + {VARIANT_OFFSET}
WHERE o.doc_id < {VARIANT_OFFSET}
"""


# -------------------------------------------------------------------- C37
CONTAIN_TAU = 0.8


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT per candidate pair — |A∩B|/|B|
    (how much of doc B lives inside doc A) alongside |A∩B|/|A|.
    Resemblance (Jaccard) misses doc-inside-doc duplication: a short
    document quoted whole inside a long one has low Jaccard but
    containment ≈ 1, and it is the smaller doc that should be dropped
    (Broder's containment, the screen a quote/wrapper-heavy crawl
    needs). Here each drift twin is (almost) contained in its original
    even where symmetric Jaccard dips.

    Plan: same pinned-pair equi-join as the Jaccard verify stage — one
    shuffle, per-pair array math, no Python. For arbitrary (unpinned)
    candidate pairs at scale, the same quantities come from a
    posting-list join (explode distinct shingles, join on shingle id,
    count matches per pair) so full sets are never carried through the
    shuffle."""
    # Per-branch construction + spread (r13): same rewrite as
    # ngram_jaccard_pairs (6.7s -> ~2s at sf0.1), identical pair set.
    # Staged tokens + staged-slice variant side: same per-element
    # re-evaluation fix as ngram_jaccard_pairs (see the comment there).
    d = _docs(spark, sf_dir).transform(_spread).select("doc_id", "text")
    td = d.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    orig = td.select(
        F.col("doc_id").alias("doc_a"),
        T.shingle_ids_from_tokens(F.col("toks")).alias("sa"),
    )
    vtoks = F.slice(
        F.col("toks"), 1, F.greatest(F.size("toks") - DROP_TOKENS, F.lit(1))
    )
    var = td.select("doc_id", vtoks.alias("vtoks")).select(
        F.col("doc_id").alias("doc_a"),
        T.shingle_ids_from_tokens(F.col("vtoks")).alias("sb"),
    )
    j = orig.join(var, "doc_a")
    inter = F.size(F.array_intersect("sa", "sb"))
    c_b_in_a = F.when(F.size("sb") > 0, inter / F.size("sb")).otherwise(F.lit(0.0))
    c_a_in_b = F.when(F.size("sa") > 0, inter / F.size("sa")).otherwise(F.lit(0.0))
    return j.select(
        "doc_a",
        c_b_in_a.alias("containment_b_in_a"),
        c_a_in_b.alias("containment_a_in_b"),
        (c_b_in_a >= CONTAIN_TAU).alias("b_contained"),
    )


CONTAINMENT_SQL = f"""
WITH corpus AS ({CORPUS_SQL}),
sids AS (SELECT doc_id, {T.sql_shingle_ids('text')} AS s FROM corpus)
SELECT o.doc_id AS doc_a,
  CASE WHEN len(v.s) > 0
       THEN len(list_intersect(o.s, v.s)) * 1.0 / len(v.s) ELSE 0.0
  END AS containment_b_in_a,
  CASE WHEN len(o.s) > 0
       THEN len(list_intersect(o.s, v.s)) * 1.0 / len(o.s) ELSE 0.0
  END AS containment_a_in_b,
  (CASE WHEN len(v.s) > 0
        THEN len(list_intersect(o.s, v.s)) * 1.0 / len(v.s) ELSE 0.0
   END) >= {CONTAIN_TAU} AS b_contained
FROM sids o JOIN sids v ON v.doc_id = o.doc_id + {VARIANT_OFFSET}
WHERE o.doc_id < {VARIANT_OFFSET}
"""
# (registered at the end of the module — QUERIES is defined below C5)


# --------------------------------------------------------------------- C8
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language heuristic (n-gram charset ID degenerates
    on the all-ASCII synthetic corpus, so the English-function-word rate
    is the discriminating signal)."""
    # Staged tokens + staged ratio (r13): with the token expression
    # inline, the HOF-bearing score is CodegenFallback (no CSE), and the
    # final projection referenced it ~4 times — four regexp tokenizations
    # per row. Two cheap projections pin one tokenize and one filter
    # scan per row.
    d = _docs(spark, sf_dir)
    td = d.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    n = F.size("toks")
    n_stop = F.size(F.filter(F.col("toks"), lambda t: t.isin(*STOPWORDS)))
    ratio = F.when(n > 0, n_stop.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
    rd = td.select("doc_id", ratio.alias("stop_ratio"))
    return rd.select(
        "doc_id",
        F.when(F.col("stop_ratio") >= 0.05, F.lit("en")).otherwise(F.lit("unk")).alias("pred_lang"),
        "stop_ratio",
    )


_STOP_SQL = "('" + "','".join(STOPWORDS) + "')"
LANG_ID_SQL = f"""
SELECT doc_id,
  CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang,
  stop_ratio AS stop_ratio
FROM (
  SELECT doc_id,
    CASE WHEN len({T.sql_tokens('text')}) > 0
         THEN len(list_filter({T.sql_tokens('text')}, t -> t IN {_STOP_SQL})) * 1.0
              / len({T.sql_tokens('text')})
         ELSE 0.0 END AS stop_ratio
  FROM documents
)
"""


# --------------------------------------------------------------------- C9
def _quality_expr(tok_col: str | None = None):
    """ONE implementation of the length/stopword/mean-token-length
    quality score in [0,1], shared by quality_score /
    quality_prune_percentile / dedup_keep_best_quality; _quality_sql()
    is its oracle twin. A formula change edits exactly these two
    functions and stays oracle-exact for all three queries (this used
    to live in six hand-synced copies across the two dialects).

    Pass a STAGED token-array attribute as ``tok_col``: the score
    references the token array ~4 times, and with an inline
    tokens(text) each reference re-runs the regexp tokenizer per row
    (the whole expression is CodegenFallback because of the HOFs, so
    no CSE applies). The no-arg form tokenizes inline for callers that
    cannot stage."""
    toks = F.col(tok_col) if tok_col else T.tokens(F.col("text"))
    n = F.size(toks).cast("double")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double")
    mean_len = F.when(n > 0, total_len / n).otherwise(F.lit(0.0))
    stop_ratio = F.when(n > 0, n_stop / n).otherwise(F.lit(0.0))
    return (
        F.least(n / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + (F.lit(1.0) - stop_ratio) * F.lit(0.3)
        + F.least(mean_len / F.lit(8.0), F.lit(1.0)) * F.lit(0.3)
    )


def _quality_sql() -> str:
    """DuckDB twin of _quality_expr(), as an inline scalar expression."""
    toks = T.sql_tokens("text")
    return (
        f"least(CAST(len({toks}) AS DOUBLE) / 100.0, 1.0) * 0.4 "
        f"+ (1.0 - CASE WHEN len({toks}) > 0 THEN "
        f"CAST(len(list_filter({toks}, t -> t IN {_STOP_SQL})) AS DOUBLE) / CAST(len({toks}) AS DOUBLE) "
        f"ELSE 0.0 END) * 0.3 "
        f"+ least((CASE WHEN len({toks}) > 0 THEN "
        f"CAST(list_sum(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({toks}, t -> CAST(length(t) AS BIGINT)))) AS DOUBLE) "
        f"/ CAST(len({toks}) AS DOUBLE) ELSE 0.0 END) / 8.0, 1.0) * 0.3"
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / stopword / token-shape quality score in [0,1]."""
    d = _docs(spark, sf_dir)
    td = d.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    return td.select("doc_id", _quality_expr("toks").alias("quality"))


QUALITY_SQL = f"""
SELECT doc_id, {_quality_sql()} AS quality
FROM documents
"""


# -------------------------------------------------------------------- C10
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens, BPE-ish subword-regex tokens, and chars."""
    d = _docs(spark, sf_dir)
    ws = F.size(F.split(F.col("text"), " "))
    bpe = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+|[^a-z0-9 ]"), 0))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


TOKEN_COUNT_SQL = """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens,
  CAST(length(text) AS INTEGER) AS n_chars_actual
FROM documents
"""


# -------------------------------------------------------------------- C11
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprint of the raw text, plus an
    order-insensitive variant (fold over sorted tokens)."""
    # spread (r13): two per-char folds per row on a 1-split scan
    # (measured 0.83s -> 0.62s at sf0.1; no-op on wide scans).
    d = _docs(spark, sf_dir).transform(_spread)
    sorted_join = F.array_join(F.array_sort(T.tokens(F.col("text"))), " ")
    return d.select(
        "doc_id",
        T.fold_hash(F.col("text")).alias("fingerprint"),
        T.fold_hash(sorted_join).alias("fingerprint_sorted"),
    )


FINGERPRINT_SQL = f"""
SELECT doc_id,
  {T.sql_fold_hash('text')} AS fingerprint,
  {T.sql_fold_hash(f"array_to_string(list_sort({T.sql_tokens('text')}), ' ')")} AS fingerprint_sorted
FROM documents
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "lang_id": lang_id,
    "quality_score": quality_score,
    "token_count": token_count,
    "doc_fingerprint": doc_fingerprint,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_minhash_lsh": _minhash_lsh_sql(),
    "dedup_simhash": _simhash_sql(),
    "ngram_jaccard_pairs": NGRAM_JACCARD_SQL,
    "lang_id": LANG_ID_SQL,
    "quality_score": QUALITY_SQL,
    "token_count": TOKEN_COUNT_SQL,
    "doc_fingerprint": FINGERPRINT_SQL,
}


# ------------------------------------------------------------ C2b: closure
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure over LSH near-dup pairs: per node, the cluster
    label (min reachable doc_id) — randomised contraction
    (``operators.dedup.connected_components``) on the Spark side,
    recursive CTE on the oracle side."""
    from cdc_sink_spark.operators.dedup import connected_components

    pairs = _lsh_candidates(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    return connected_components(pairs, "doc_a", "doc_b").select("node", "label")


def _cc_sql() -> str:
    # MATERIALIZED: without it DuckDB inlines the LSH pair CTE and
    # re-evaluates it on every recursive step (~9x slower, same rows).
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_lsh_sql()}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs WHERE est_jaccard >= 0.5),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(node, root) AS (
  SELECT a, a FROM sym UNION SELECT b, b FROM sym
  UNION
  SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
)
SELECT node, MIN(root) AS label FROM reach GROUP BY node
"""


QUERIES["dedup_connected_components"] = dedup_connected_components
ORACLES["dedup_connected_components"] = _cc_sql()


# ----------------------------------------------------------- C13: vocab
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-200 tokens by document frequency with a
    total tie-break — the tokenizer-training precursor (wordcount with
    map-side combine; the explode never leaves the scan stage)."""
    d = _docs(spark, sf_dir)
    tok = d.select(F.explode(F.array_distinct(T.tokens(F.col("text")))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    # Top-200 via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, only 200 rows leave each partition) — a vocab at 100 TB is
    # millions of tokens, too big for a single-reducer global window.
    # Rank is assigned on the 200 survivors only.
    top = counts.orderBy(F.col("doc_freq").desc(), F.col("token")).limit(200)
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("token"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "token", "doc_freq")
    )


VOCAB_SQL = f"""
SELECT rank, token, doc_freq FROM (
  SELECT token, doc_freq,
         CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, token) AS INTEGER) AS rank
  FROM (
    SELECT token, COUNT(*) AS doc_freq FROM (
      SELECT DISTINCT doc_id, unnest(list_distinct({T.sql_tokens('text')})) AS token
      FROM documents
    ) GROUP BY token
  )
) WHERE rank <= 200
"""


# ----------------------------------------------------------- C14: tf-idf
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by tf-idf. tf = in-doc count; idf =
    ln(N/df). Two shuffles total: token df (broadcast back — it is
    vocabulary-sized, not corpus-sized) and the per-doc rank."""
    d = _docs(spark, sf_dir)
    # N as an in-plan broadcast single-row aggregate (round-9 fix: the
    # driver-side d.count() forced an eager job before the plan was even
    # built). The count-only scan is column-pruned to parquet row-group
    # metadata, so the extra scan is nearly free.
    n = d.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    tok = d.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("token")
    )
    # df derives from tf (r13): tf's (doc_id, token) groups ARE the
    # distinct doc-token pairs, so counting tf rows per token equals the
    # old explode→distinct→count pipeline — which consumed `tok` a
    # second time and re-ran the whole tokenize+explode per call. tf is
    # lazy-checkpointed because it now has two consumers (the df agg and
    # the scored join); it is doc×term-sized, far smaller than the token
    # stream it replaces.
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=False)
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            # float32 downcast: JVM Math.log and DuckDB libm ln disagree
            # by 1 ulp on some inputs; the narrower type absorbs it
            # deterministically on both engines (no rounding — rounding
            # near a .5 boundary re-introduces the mismatch).
            (
                F.col("tf").cast("double")
                * F.log(F.col("__n_docs") / F.col("df").cast("double"))
            ).cast("float").alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "token", "tfidf")
    )


def _tfidf_sql() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({T.sql_tokens('text')}) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.token,
         CAST(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS REAL) AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
)
SELECT doc_id, rnk, token, tfidf FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, token) AS INTEGER) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


QUERIES["vocab_top_tokens"] = vocab_top_tokens
ORACLES["vocab_top_tokens"] = VOCAB_SQL
QUERIES["tfidf_top_terms"] = tfidf_top_terms
ORACLES["tfidf_top_terms"] = _tfidf_sql()


# ------------------------------------------------- C16: stratified sample
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: per-language keep
    rates (en 50%, others 20%) via an md5-derived uniform — reproducible
    across runs/engines, no RNG state, filter applies at the scan."""
    d = _docs(spark, sf_dir)
    u = F.conv(F.substring(F.md5(F.concat(F.lit("salt1"), F.col("doc_id").cast("string"))), 1, 8), 16, 10).cast(
        "long"
    ) % 10000
    rate = F.when(F.col("lang") == "en", F.lit(5000)).otherwise(F.lit(2000))
    kept = d.filter(u < rate)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("min_doc_id")
    )


SAMPLE_SQL = """
SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS min_doc_id
FROM documents
WHERE CAST(('0x' || substr(md5('salt1' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
      < CASE WHEN lang = 'en' THEN 5000 ELSE 2000 END
GROUP BY lang
"""


# ------------------------------------------------- C17: length binning
def length_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length binning: token counts bucketed into powers of two —
    the packing precursor for sequence-length-aware batch assembly."""
    # Staged token count (r13): n was referenced twice (bucket + n_tok)
    # in one projection — two tokenizations per row. Stage it once.
    d = _docs(spark, sf_dir)
    nd = d.select(F.size(T.tokens(F.col("text"))).alias("n_tok"))
    n = F.col("n_tok")
    bucket = F.pow(F.lit(2.0), F.ceil(F.log2(F.greatest(n, F.lit(1))))).cast("long")
    return nd.select(bucket.alias("len_bucket"), n.alias("n_tok")).groupBy("len_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )


LENBUCKET_SQL = f"""
SELECT CAST(pow(2.0, ceil(log2(greatest(len({T.sql_tokens('text')}), 1)))) AS BIGINT) AS len_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(len({T.sql_tokens('text')})) AS BIGINT) AS total_tokens
FROM documents GROUP BY 1
"""

QUERIES["stratified_sample"] = stratified_sample
ORACLES["stratified_sample"] = SAMPLE_SQL
QUERIES["length_bucket_histogram"] = length_bucket_histogram
ORACLES["length_bucket_histogram"] = LENBUCKET_SQL


# ------------------------------------------------- C3b: simhash pairs
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-neighborhood candidate pairs: 3 bands of 10 bits — any
    pair within hamming distance <= 2 of the 30-bit simhash collides on
    at least one band (pigeonhole); exact bit_count verification inside
    the bucket. Same bucket-local pair generation as minhash LSH."""
    # Salted self-join pair generation (r13). The previous
    # collect_list + nested-transform form built each bucket's full
    # m*(m-1)/2 pair array inside ONE task — and simhash band keys are
    # heavily SKEWED on real text (the 10 high bits concentrate: at
    # sf0.1 one bucket holds 4,914 of 30k band rows), so a single task
    # materialized a ~12M-struct array while 31 cores idled (14.4s).
    # AQE's skew-join splitter keys on partition BYTES (256 MB default)
    # and never fires on these KB-sized, compute-bound buckets, so the
    # salt is explicit and deterministic (pmod(xxhash64(doc_id), K) —
    # never rand(), which breaks under task retry): the left side gets
    # one of K salts, the right side replicates to all K, and each
    # (bucket, salt) task handles m/K * m comparisons. Identical pair
    # set — every a<b pair appears exactly once, at a's salt — and the
    # bucket-size cap is preserved by a pre-join semi filter.
    #
    # WORK-PROPORTIONAL SALT (r14, VERDICT item 2): r13 replicated EVERY
    # capped bucket SALT_K-fold — free at sf0.1, but at 100 TB it
    # multiplies the band-table shuffle volume 32x to fix what is only
    # a few hot buckets. The bucket size __m is already computed for
    # the cap filter, so the replication factor is now per-bucket:
    # K = ceil(m / SALT_ROWS_PER_SALT), i.e. K=1 for every small bucket
    # (plain unsalted join) and just enough salts on the hot tail that
    # each (bucket, salt) task handles ~SALT_ROWS_PER_SALT * m
    # comparisons — bounded by 256 * LSH_BUCKET_CAP ≈ 1.3M cheap
    # xor+popcount ops per task, and each shuffled replica row
    # amortizes ~256 comparisons. Same join, same pair set (each a<b
    # pair still appears exactly once, at a's salt, whatever K its
    # bucket uses); the right side's explode(sequence(0, K-1)) emits
    # exactly K copies per row. Measured on the sf0.1 band table:
    # right-side replication 32.0x (flat r13) -> 6.5x, with identical
    # pairs; K is also capped at SALT_K for safety if LSH_BUCKET_CAP is
    # ever raised (at the current cap, ceil(5000/256)=20 < 32).
    SALT_K = 32
    SALT_ROWS_PER_SALT = 256
    c = _corpus(spark, sf_dir).transform(_spread)
    sh = c.select("doc_id", T.simhash(T.tokens(F.col("text"))).alias("simhash"))
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * 10).bitwiseAND(F.lit(0x3FF)).alias("bkey"),
            )
            for b in range(3)
        ]
    )
    # Lazy-checkpoint: three consumers (size filter + both join sides)
    # would otherwise each re-run the simhash fold over the corpus.
    bands = sh.select("doc_id", "simhash", F.explode(band_arr).alias("bk")).select(
        "doc_id", "simhash", "bk.band", "bk.bkey"
    ).localCheckpoint(eager=False)
    ok = (
        bands.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("__m"))
        .filter((F.col("__m") > 1) & (F.col("__m") <= LSH_BUCKET_CAP))
        .select(
            "band", "bkey",
            F.least(
                F.lit(SALT_K).cast("long"),
                F.ceil(F.col("__m") / SALT_ROWS_PER_SALT).cast("long"),
            ).alias("__k"),
        )
    )
    pruned = bands.join(F.broadcast(ok), ["band", "bkey"])
    left = pruned.select(
        "band", "bkey",
        F.pmod(F.xxhash64("doc_id"), F.col("__k")).alias("__salt"),
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
    )
    right = pruned.select(
        "band", "bkey",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("__k") - 1)).alias("__salt"),
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"),
    )
    return (
        left.join(right, ["band", "bkey", "__salt"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _simhash_pairs_sql() -> str:
    sh = T.sql_simhash(T.sql_tokens("text"))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {b * 10}) & 1023 AS bkey FROM sh"
        for b in range(3)
    )
    return f"""
WITH corpus AS ({CORPUS_SQL}),
sh AS (SELECT doc_id, {sh} AS simhash FROM corpus),
bands AS ({bands}),
hits AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         bit_count(xor(l.simhash, r.simhash)) AS hamming
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming
FROM hits WHERE hamming <= 2
"""


QUERIES["dedup_simhash_pairs"] = dedup_simhash_pairs
ORACLES["dedup_simhash_pairs"] = _simhash_pairs_sql()


# ------------------------------------------------- C2c: dedup keep list
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final dedup artifact: one surviving doc per near-dup cluster
    (min doc_id) with cluster size — what a corpus pipeline feeds to the
    filter stage."""
    from cdc_sink_spark.operators.dedup import canonicalize, connected_components

    pairs = _lsh_candidates(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    labels = connected_components(pairs, "doc_a", "doc_b")
    return canonicalize(labels)


KEEP_LIST_SQL = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_lsh_sql()}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs WHERE est_jaccard >= 0.5),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(node, root) AS (
  SELECT a, a FROM sym UNION SELECT b, b FROM sym
  UNION
  SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
),
labels AS (SELECT node, MIN(root) AS label FROM reach GROUP BY node)
SELECT label, COUNT(*) AS cluster_size, MIN(node) AS keep_id
FROM labels GROUP BY label
"""

QUERIES["dedup_keep_list"] = dedup_keep_list
ORACLES["dedup_keep_list"] = KEEP_LIST_SQL


# ------------------------------------------------- C18: LSH recall eval
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-quality measurement: recall of the LSH candidate stage
    against ground truth (doc-twin pairs whose exact n-gram Jaccard is
    >= 0.5). The eval-harness operator a production dedup pipeline runs
    after every parameter change."""
    truth = ngram_jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.5).select(
        "doc_a"
    )
    # doc_a is unique in `found`: pairs are deduped upstream and doc_b is
    # pinned to doc_a's twin, so the left join below is 1:<=1 and the
    # whole eval is ONE action — the truth (exact-Jaccard) and LSH
    # lineages each execute exactly once (the previous two driver-side
    # count() calls re-ran the expensive truth lineage twice).
    found = dedup_minhash_lsh(spark, sf_dir).filter(
        F.col("doc_b") == F.col("doc_a") + VARIANT_OFFSET
    ).select(F.col("doc_a").alias("f_doc"))
    per = truth.join(found, truth.doc_a == F.col("f_doc"), "left")
    return per.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.count("f_doc").alias("n_found"),
    ).select(
        "n_truth",
        "n_found",
        (F.col("n_found").cast("double") / F.col("n_truth")).alias("recall"),
    )


def _lsh_recall_sql() -> str:
    return f"""
WITH truth AS (
  SELECT doc_a FROM ({NGRAM_JACCARD_SQL}) WHERE jaccard >= 0.5
),
found AS (
  SELECT doc_a AS f_doc FROM ({_minhash_lsh_sql()})
  WHERE doc_b = doc_a + {VARIANT_OFFSET}
)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM truth WHERE doc_a IN (SELECT f_doc FROM found)) AS n_found,
       (SELECT COUNT(*) FROM truth WHERE doc_a IN (SELECT f_doc FROM found)) * 1.0
         / (SELECT COUNT(*) FROM truth) AS recall
"""


QUERIES["lsh_recall_eval"] = lsh_recall_eval
ORACLES["lsh_recall_eval"] = _lsh_recall_sql()


# ------------------------------------------------- C19: repetition score
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetitive-document detection: the dominant 3-gram's share of all
    shingle occurrences — the loop/boilerplate filter every corpus
    pipeline applies. Explode + two-level aggregate, one shuffle."""
    # spread (r13): shingle construction + explode ran on the 1-split
    # scan (measured 4.8s -> 1.6s at sf0.1; no-op on wide scans).
    # Staged tokens (r13): an inline tokens(text) inside the shingle
    # lambda is re-evaluated per shingle position (no CSE in HOF
    # lambdas); project the token array once first.
    d = _docs(spark, sf_dir).transform(_spread)
    sh = d.select("doc_id", T.tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.explode(T.shingles(F.col("toks"))).alias("sid")
    )
    per = sh.groupBy("doc_id", "sid").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("doc_id").agg(
        F.max("c").alias("max_rep"), F.sum("c").alias("n_shingles")
    )
    return agg.select(
        "doc_id",
        "max_rep",
        "n_shingles",
        (F.col("max_rep").cast("double") / F.col("n_shingles").cast("double")).alias("rep_share"),
    )


def _repetition_sql() -> str:
    toks = T.sql_tokens("text")
    sh = (
        f"CASE WHEN len({toks}) >= 3 THEN "
        f"list_transform(range(1, len({toks}) - 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + 2), ' ')) "
        f"ELSE [] END"
    )
    return f"""
WITH sh AS (SELECT doc_id, unnest({sh}) AS sid FROM documents),
per AS (SELECT doc_id, sid, COUNT(*) AS c FROM sh GROUP BY 1, 2)
SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_rep, CAST(SUM(c) AS BIGINT) AS n_shingles,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_share
FROM per GROUP BY doc_id
"""


# ------------------------------------------------- C20: PII pattern scan
# Backslash-free patterns: identical strings feed Spark (Java regex)
# and DuckDB (RE2) without escaping skew.
PII_PATTERNS = {
    "email": "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}",
    "phone": "[+]?[0-9][0-9() -]{7,}[0-9]",
    "ssn": "[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def pii_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII screening: per-pattern match counts over the corpus (the
    redaction-or-drop gate before training). regexp_count is native
    codegen; the scan is one pass."""
    d = _docs(spark, sf_dir)
    aggs = [
        F.sum(F.regexp_count(F.lower("text"), F.lit(p))).alias(f"n_{name}")
        for name, p in PII_PATTERNS.items()
    ]
    return d.agg(F.count(F.lit(1)).alias("n_docs"), *aggs)


def _pii_sql() -> str:
    cols = ", ".join(
        f"CAST(SUM(len(regexp_extract_all(lower(text), '{p}'))) AS BIGINT) AS n_{name}"
        for name, p in PII_PATTERNS.items()
    )
    return f"SELECT COUNT(*) AS n_docs, {cols} FROM documents"


QUERIES["repetition_score"] = repetition_score
ORACLES["repetition_score"] = _repetition_sql()
QUERIES["pii_pattern_scan"] = pii_pattern_scan
ORACLES["pii_pattern_scan"] = _pii_sql()


# ------------------------------------------------ C21: decontamination
# Train/eval n-gram overlap — the pre-training hygiene pass that drops
# training documents sharing n-grams with a held-out benchmark set.
# Production pipelines use 8-13 grams; the synthetic corpus has a tiny
# vocabulary, so SHINGLE_N keeps the overlap non-trivial while the plan
# shape (explode -> distinct eval grams -> broadcast equi-join) is
# exactly the production one. Eval set = every 97th doc, deterministic.
DECON_EVAL_MOD = 97


def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contaminated training docs and how many distinct eval n-grams
    each shares. The eval gram set is corpus-small (benchmarks are),
    so it broadcasts; the training side never shuffles before the
    per-doc count."""
    # Spread the CPU-heavy shingle hashing across all cores (the parquet
    # input is 1-2 splits). The eval side filters doc_id BEFORE the gram
    # compute, so it hashes ~1% of the corpus, not all of it.
    # Staged tokens (r13): per-element lambda re-evaluation fix — see
    # shingles() in functions/text.py.
    d = _docs(spark, sf_dir).transform(_spread)
    grams = d.select("doc_id", T.tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.explode(T.shingle_ids_from_tokens(F.col("toks"))).alias("gid")
    )
    eval_g = (
        grams.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select("gid")
        .distinct()
    )
    hits = grams.filter(F.col("doc_id") % DECON_EVAL_MOD != 0).join(
        F.broadcast(eval_g), "gid"
    )
    return hits.groupBy("doc_id").agg(
        F.count_distinct("gid").alias("n_shared_ngrams")
    )


DECON_SQL = f"""
WITH grams AS (
  SELECT doc_id, unnest({T.sql_shingle_ids('text')}) AS gid FROM documents
),
eval_g AS (SELECT DISTINCT gid FROM grams WHERE doc_id % {DECON_EVAL_MOD} = 0)
SELECT g.doc_id, CAST(COUNT(DISTINCT g.gid) AS BIGINT) AS n_shared_ngrams
FROM grams g JOIN eval_g e ON g.gid = e.gid
WHERE g.doc_id % {DECON_EVAL_MOD} <> 0
GROUP BY g.doc_id
"""

QUERIES["decontaminate_ngram_overlap"] = decontaminate_ngram_overlap
ORACLES["decontaminate_ngram_overlap"] = DECON_SQL


# ------------------------------------------------ C22: sequence packing
# Concat-and-chunk packing: documents stream into fixed token-budget
# training sequences. Sharding first (doc_id % SHARDS) is what makes it
# scale: the running total is a window per shard, never a global sort,
# and shards are the unit a 1000-executor run would write in parallel.
PACK_BUDGET = 2048
PACK_SHARDS = 32


def pack_chunk_assignments(t: DataFrame) -> DataFrame:
    """Per-doc chunk assignment for ``t = (doc_id, n_tok, shard)``: each
    doc lands in the chunk where its FIRST token falls
    (floor(cum_before / budget)) — deterministic, order-stable, one
    shuffle on the shard key. Exposed at the frame level so the
    property test exercises THIS implementation against its Python
    model (an inline re-implementation in the test validated a copy,
    not the code)."""
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    chunk = F.floor((F.col("cum") - F.col("n_tok")) / F.lit(float(PACK_BUDGET))).cast(
        "bigint"
    )
    return c.withColumn("chunk_id", chunk)


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk occupancy per shard (see pack_chunk_assignments)."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id",
        F.size(T.tokens(F.col("text"))).alias("n_tok"),
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
    )
    return pack_chunk_assignments(t).groupBy("shard", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )


PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, len({T.sql_tokens('text')}) AS n_tok,
         doc_id % {PACK_SHARDS} AS shard
  FROM documents
),
c AS (
  SELECT *, SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT shard, CAST(FLOOR((cum - n_tok) / {PACK_BUDGET}.0) AS BIGINT) AS chunk_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM c GROUP BY 1, 2
"""

QUERIES["pack_sequences"] = pack_sequences
ORACLES["pack_sequences"] = PACK_SQL


# --------------------------------------------- C23: domain mix weights
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) resampling weights toward a uniform source mix
    within each language — the data-mixing step before training-shard
    writes. Aggregates to domain cardinality first, so the windows run
    over the tiny counts relation, not the corpus."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("lang")
    return (
        counts.withColumn("lang_total", F.sum("n_docs").over(w))
        .withColumn("n_sources", F.count(F.lit(1)).over(w))
        .select(
            "lang",
            "source",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("lang_total")).alias("share"),
            (
                (F.lit(1.0) / F.col("n_sources"))
                / (F.col("n_docs").cast("double") / F.col("lang_total"))
            ).alias("weight"),
        )
    )


MIX_SQL = """
WITH counts AS (
  SELECT lang, source, COUNT(*) AS n_docs FROM documents GROUP BY 1, 2
),
x AS (
  SELECT *, CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
         COUNT(*) OVER (PARTITION BY lang) AS n_sources
  FROM counts
)
SELECT lang, source, n_docs,
       CAST(n_docs AS DOUBLE) / lang_total AS share,
       (1.0 / n_sources) / (CAST(n_docs AS DOUBLE) / lang_total) AS weight
FROM x
"""

QUERIES["domain_mix_weights"] = domain_mix_weights
ORACLES["domain_mix_weights"] = MIX_SQL


# -------------------------------------- C25: quality percentile pruning
PRUNE_FRACTION = 0.2  # drop the bottom 20% per language


def quality_prune_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based quality pruning: within each language, rank docs
    by the quality score and drop the bottom fraction — the distribution-
    relative filter pipelines use instead of a global threshold (score
    scales differ per language). The window partitions by lang, so no
    global sort exists; per-lang aggregate output."""
    d = _docs(spark, sf_dir)
    q = d.select("doc_id", "lang", T.tokens(F.col("text")).alias("toks")).select(
        "doc_id", "lang", _quality_expr("toks").alias("quality")
    )
    w = Window.partitionBy("lang").orderBy("quality", "doc_id")
    ranked = q.withColumn("pr", F.percent_rank().over(w))
    kept = F.col("pr") >= PRUNE_FRACTION
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.min(F.when(kept, F.col("quality"))).alias("min_kept_quality"),
    )


PRUNE_SQL = f"""
WITH q AS (
  SELECT doc_id, lang, {_quality_sql()} AS quality
  FROM documents
),
ranked AS (
  SELECT *, PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS pr
  FROM q
)
SELECT lang, COUNT(*) AS n_total,
       COUNT(CASE WHEN pr >= {PRUNE_FRACTION} THEN 1 END) AS n_kept,
       MIN(CASE WHEN pr >= {PRUNE_FRACTION} THEN quality END) AS min_kept_quality
FROM ranked GROUP BY lang
"""

QUERIES["quality_prune_percentile"] = quality_prune_percentile
ORACLES["quality_prune_percentile"] = PRUNE_SQL


# ---------------------------------- C26: unigram LM surprisal (CCNet-ish)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filter with a corpus unigram LM: each
    doc's mean negative log-probability of its tokens under the corpus
    token distribution (CCNet uses a KenLM; the unigram LM is the same
    pipeline shape — LM table broadcast against the exploded token
    stream). High surprisal = out-of-distribution text. Score downcast
    to float32 on both engines (ln differs by 1 ulp between libm and
    the JVM)."""
    d = _docs(spark, sf_dir)
    tok = d.transform(_spread).select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("token")
    )
    # Lazy-checkpoint the LM table (r13): freq has two consumers (the
    # total agg and the lm projection) and re-ran the tokenize+count
    # pipeline twice per call. Vocabulary-sized.
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf")).localCheckpoint(
        eager=False
    )
    total = freq.agg(F.sum("tf").cast("double").alias("__total"))
    lm = freq.crossJoin(F.broadcast(total)).select(
        "token", (F.col("tf").cast("double") / F.col("__total")).alias("p")
    )
    scored = tok.join(F.broadcast(lm), "token").select(
        "doc_id", (-F.log(F.col("p"))).alias("nll")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.avg("nll").cast("float").alias("avg_nll"),
    )


UNIGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({T.sql_tokens('text')}) AS token FROM documents
),
freq AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
total AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM freq),
lm AS (SELECT token, CAST(tf AS DOUBLE) / total AS p FROM freq CROSS JOIN total)
SELECT doc_id, COUNT(*) AS n_tok, CAST(AVG(-ln(p)) AS REAL) AS avg_nll
FROM tok JOIN lm USING (token)
GROUP BY doc_id
"""

QUERIES["unigram_logprob_score"] = unigram_logprob_score
ORACLES["unigram_logprob_score"] = UNIGRAM_SQL


# --------------------------------- C27: BPE-ish bigram merge frequencies
def bigram_merge_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 adjacent token pairs by corpus frequency — the first
    merge-selection step of BPE-style tokenizer training. Shingle n=2
    reuses the dedup shingle machinery; counts combine map-side and the
    top-k is a TakeOrderedAndProject, so nothing corpus-sized crosses a
    single reducer."""
    # Staged tokens (r13): per-element lambda re-evaluation fix — see
    # shingles() in functions/text.py.
    d = _docs(spark, sf_dir).transform(_spread)
    bg = d.select(T.tokens(F.col("text")).alias("toks")).select(
        F.explode(T.shingles(F.col("toks"), 2)).alias("bigram")
    )
    counts = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))
    top = counts.orderBy(F.col("freq").desc(), "bigram").limit(200)
    w = Window.orderBy(F.col("freq").desc(), F.col("bigram"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "bigram", "freq"
    )


def _bigram_sql() -> str:
    toks = T.sql_tokens("text")
    sh = (
        f"CASE WHEN len({toks}) >= 2 THEN "
        f"list_transform(range(1, len({toks})), "
        f"i -> array_to_string(list_slice({toks}, i, i + 1), ' ')) "
        f"ELSE [] END"
    )
    return f"""
SELECT rank, bigram, freq FROM (
  SELECT bigram, freq,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, bigram) AS INTEGER) AS rank
  FROM (
    SELECT bigram, COUNT(*) AS freq FROM (
      SELECT unnest({sh}) AS bigram FROM documents
    ) GROUP BY bigram
  )
) WHERE rank <= 200
"""

QUERIES["bigram_merge_frequencies"] = bigram_merge_frequencies
ORACLES["bigram_merge_frequencies"] = _bigram_sql()


# ------------------------------- C28: HTML main-content extraction
def html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus extraction stage: wrap each document in deterministic
    HTML (nav/footer boilerplate + inline markup), extract the main
    content (<p> block), strip the remaining tags, and verify the
    round trip is lossless per document — the boilerplate-removal +
    tag-strip contract every crawl pipeline needs, as pure regexp
    column expressions (no UDF). Output: corpus counts + loss tally."""
    d = _docs(spark, sf_dir).transform(_spread)
    html = F.concat(
        F.lit("<html><head><title>t</title></head><body>"
              "<nav>menu home login</nav><p>"),
        F.regexp_replace(F.col("text"), " the ", " <b>the</b> "),
        F.lit("</p><footer>copyright site map</footer></body></html>"),
    )
    main = F.regexp_extract(html, "<p>(.*)</p>", 1)
    stripped = F.regexp_replace(main, "<[^>]*>", "")
    out = d.select(
        "doc_id",
        (stripped == F.col("text")).alias("lossless"),
        F.size(T.tokens(stripped)).alias("n_tok"),
    )
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(~F.col("lossless"), 1)).alias("n_lossy"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


HTML_EXTRACT_SQL = f"""
WITH h AS (
  SELECT doc_id, text,
    '<html><head><title>t</title></head><body><nav>menu home login</nav><p>'
    || regexp_replace(text, ' the ', ' <b>the</b> ', 'g')
    || '</p><footer>copyright site map</footer></body></html>' AS html
  FROM documents
),
x AS (
  SELECT doc_id, text,
    regexp_replace(regexp_extract(html, '<p>(.*)</p>', 1), '<[^>]*>', '', 'g') AS stripped
  FROM h
)
SELECT COUNT(*) AS n_docs,
       CAST(COUNT(CASE WHEN stripped <> text THEN 1 END) AS BIGINT) AS n_lossy,
       CAST(SUM(len({T.sql_tokens('stripped')})) AS BIGINT) AS total_tokens
FROM x
"""

QUERIES["html_extract_text"] = html_extract_text
ORACLES["html_extract_text"] = HTML_EXTRACT_SQL


# ----------------------- C29: content-defined chunk dedup (CDC chunking)
CHUNK_W = 4        # rolling-window width (tokens)
CHUNK_MASK = 16    # boundary when window-hash % MASK == 0 -> ~16-token chunks


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup via content-defined chunking: a rolling
    window hash over tokens picks chunk boundaries wherever
    hash % MASK == 0, so IDENTICAL substrings chunk identically
    regardless of position — shared prefixes between near-dup docs
    surface as duplicate chunk hashes without any suffix array. All
    array HOFs + md5, one corpus shuffle on the chunk hash."""
    # STAGED projections (r13): the previous single-projection form
    # nested toks -> win -> hashes -> bounds -> cuts -> chunks as one
    # expression tree, and HOF lambdas get no common-subexpression
    # elimination — every element_at(cuts, j) re-derived the WHOLE
    # rolling-hash pipeline, making the chunk transform quadratic-ish in
    # tokens (minutes at sf0.1). Each stage now lives in its own select,
    # so toks/hashes/cuts are plain attributes where they are referenced
    # more than once (CollapseProject keeps multi-referenced non-cheap
    # aliases in their own projection). Identical arithmetic and output.
    c = _corpus(spark, sf_dir).transform(_spread)
    s_tok = c.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    win = T.shingles(F.col("toks"), CHUNK_W)
    s_hash = s_tok.select(
        "doc_id",
        "toks",
        F.transform(
            win, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % T.P
        ).alias("hashes"),
    )
    # Guard the index range explicitly: sequence(1, 0) is a DESCENDING
    # [1, 0] in Spark (not empty), so a doc with < CHUNK_W tokens would
    # evaluate element_at(hashes, 1) on an empty array — an ANSI-mode
    # crash (Spark 4 default). DuckDB's range(1, 1) is empty, so the
    # oracle sails through the same doc; the empty-array branch keeps
    # the engines agreeing.
    idx = F.when(
        F.size(F.col("hashes")) >= 1, F.sequence(F.lit(1), F.size(F.col("hashes")))
    ).otherwise(F.array().cast("array<int>"))
    bounds = F.filter(idx, lambda i: F.element_at(F.col("hashes"), i) % CHUNK_MASK == 0)
    s_cut = s_hash.select(
        "doc_id",
        "toks",
        F.concat(F.array(F.lit(0)), bounds, F.array(F.size(F.col("toks")))).alias("cuts"),
    )
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(F.col("cuts")) - 1),
        lambda j: F.md5(
            F.array_join(
                F.slice(
                    F.col("toks"),
                    F.element_at(F.col("cuts"), j) + 1,
                    F.element_at(F.col("cuts"), j + 1) - F.element_at(F.col("cuts"), j),
                ),
                " ",
            )
        ),
    )
    ch = s_cut.select(F.explode(chunks).alias("chunk_md5")).filter(
        F.col("chunk_md5").isNotNull()
    )
    per = ch.groupBy("chunk_md5").agg(F.count(F.lit(1)).alias("n"))
    return per.agg(
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.count(F.when(F.col("n") >= 2, 1)).alias("n_dup_chunks"),
        F.max("n").alias("max_dup"),
    )


def _cdc_chunk_sql() -> str:
    toks = T.sql_tokens("text")
    win = (
        f"CASE WHEN len({toks}) >= {CHUNK_W} THEN "
        f"list_transform(range(1, len({toks}) - {CHUNK_W - 2}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {CHUNK_W - 1}), ' ')) "
        f"ELSE [] END"
    )
    md5h = "CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)"
    return f"""
WITH corpus AS ({CORPUS_SQL}),
t AS (
  SELECT doc_id, {toks} AS toks,
         list_transform({win}, s -> {md5h} % {T.P}) AS hashes
  FROM corpus
),
cut AS (
  SELECT doc_id, toks,
         list_concat(list_concat([0],
           list_filter(range(1, greatest(len(hashes), 0) + 1),
                       i -> hashes[i] % {CHUNK_MASK} = 0)),
           [len(toks)]) AS cuts
  FROM t
),
ch AS (
  SELECT md5(array_to_string(list_slice(toks, cuts[j] + 1, cuts[j + 1]), ' ')) AS chunk_md5
  FROM cut, unnest(range(1, len(cuts))) AS u(j)
),
per AS (SELECT chunk_md5, COUNT(*) AS n FROM ch WHERE chunk_md5 IS NOT NULL GROUP BY 1)
SELECT COUNT(*) AS n_distinct_chunks,
       CAST(COUNT(CASE WHEN n >= 2 THEN 1 END) AS BIGINT) AS n_dup_chunks,
       MAX(n) AS max_dup
FROM per
"""

QUERIES["cdc_chunk_dedup"] = cdc_chunk_dedup
ORACLES["cdc_chunk_dedup"] = _cdc_chunk_sql()


# ---------------------------------------------------- C30: boilerplate
BOILER_DF = 3  # a shingle present in >= this many docs is boilerplate


def boilerplate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction (C4/MassiveText-style corpus
    hygiene): the share of a doc's distinct word n-grams that recur in
    >= BOILER_DF distinct documents — headers, footers, and injected
    banners score high and feed the quality-pruning stage. Plan: one
    explode of distinct shingle ids, one doc-frequency agg (map-side
    combined), one semi-join back; the corpus text is scanned once."""
    d = _docs(spark, sf_dir)
    # Materialize the posting pairs ONCE: both the doc-frequency agg and
    # the join back consume `sh`, and without the checkpoint the whole
    # tokenize+shingle+hash pipeline re-executes per consumer (the
    # measured self-join re-derivation trap; 3.5s -> ~1.4s at sf0.1).
    # At 100 TB this is "write the posting list, then aggregate it" —
    # the standard shape; a collect_list-per-shingle alternative would
    # concentrate each boilerplate shingle's full posting list in one
    # row (hot-key skew), so the join form is the one that scales.
    # Repartition first: a single-file corpus is one task, and the
    # tokenize+shingle+hash work must spread across every core.
    # Staged tokens (r13): per-element lambda re-evaluation fix — see
    # shingles() in functions/text.py.
    sh = (
        d.transform(_spread)
        .select("doc_id", T.tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(T.shingle_ids_from_tokens(F.col("toks"))).alias("sid"))
        .localCheckpoint(eager=False)  # materialized by the df agg below (r14)
    )
    df = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
    boiler = df.filter(F.col("df") >= BOILER_DF).select("sid")
    per_doc = sh.join(boiler.withColumn("__b", F.lit(1)), "sid", "left").groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("__b").alias("n_boiler"),
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        (F.col("n_boiler") / F.col("n_shingles")).alias("boiler_frac"),
    )


def _boiler_sql() -> str:
    sids = T.sql_shingle_ids("text")
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({sids}) AS sid FROM documents
),
df AS (SELECT sid, COUNT(*) AS df FROM sh GROUP BY sid),
b AS (SELECT sid, 1 AS __b FROM df WHERE df >= {BOILER_DF})
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(__b) AS BIGINT) AS n_boiler,
       COUNT(__b) / COUNT(*) AS boiler_frac
FROM sh LEFT JOIN b USING (sid)
GROUP BY doc_id
"""


QUERIES["boilerplate_ngram_fraction"] = boilerplate_ngram_fraction
ORACLES["boilerplate_ngram_fraction"] = _boiler_sql()


# ------------------------------------------------------------ C31: BM25
BM25_TERMS = ("spark", "sort", "merge")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus for a fixed query — the relevance
    scorer a training-data pipeline uses for targeted subset selection
    (e.g. pulling domain-relevant docs). Per-term scores become fixed
    COLUMNS added in a fixed order (never SUM over a term rows-set:
    double addition is order-sensitive and a shuffle's arrival order is
    not deterministic); the final score downcasts to float32 BEFORE the
    rank so Spark and DuckDB agree on ties at the 1-ulp ln() boundary.
    Corpus stats (N, avgdl) ride one broadcast agg row."""
    d = _docs(spark, sf_dir)
    # Single-file corpus = one task; spread the tokenize before it.
    toks = d.transform(_spread).select(
        "doc_id", T.tokens(F.col("text")).alias("toks")
    )

    def _eq(term):  # closure factory: a bound-default lambda would trip
        return lambda x: x == term  # PySpark's HOF arity detection

    # Lazy-checkpoint the per-doc term stats (r13): `dl` has TWO
    # consumers — the corpus-stats agg and the scored projection — and
    # without the checkpoint the whole tokenize+tf pipeline executed
    # twice per call (the decision pass should run over the materialized
    # small rows, guide §8). eager=False: the stats agg is the first
    # action and materializes it in the same job.
    dl = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[F.size(F.filter("toks", _eq(t))).alias(f"tf_{t}") for t in BM25_TERMS],
    ).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    scored = dl.crossJoin(F.broadcast(stats))
    score = None
    for t in BM25_TERMS:
        tf = F.col(f"tf_{t}").cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5) + 1.0
        )
        part = idf * (
            tf * (BM25_K1 + 1.0)
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
        )
        score = part if score is None else (score + part)
    out = scored.select("doc_id", "dl", score.cast("float").alias("bm25"))
    top = out.filter(F.col("bm25") > 0).orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    ).limit(BM25_TOP)
    w = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "dl", "bm25"
    )


def _bm25_sql() -> str:
    toks = T.sql_tokens("text")
    tf_cols = ", ".join(
        f"len(list_filter({toks}, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in BM25_TERMS
    )
    parts = []
    for t in BM25_TERMS:
        idf = f"ln((n_docs - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)"
        parts.append(
            f"({idf} * (CAST(tf_{t} AS DOUBLE) * ({BM25_K1} + 1.0) "
            f"/ (CAST(tf_{t} AS DOUBLE) + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))))"
        )
    score = " + ".join(parts)
    return f"""
WITH dl AS (
  SELECT doc_id, len({toks}) AS dl, {tf_cols} FROM documents
),
stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, {df_cols}
  FROM dl
),
scored AS (
  SELECT doc_id, dl, CAST({score} AS REAL) AS bm25 FROM dl, stats
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank,
       doc_id, CAST(dl AS INTEGER) AS dl, bm25
FROM scored WHERE bm25 > 0
ORDER BY rank LIMIT {BM25_TOP}
"""


QUERIES["bm25_topk"] = bm25_topk
ORACLES["bm25_topk"] = _bm25_sql()


# ------------------------------------------- C2d: contraction CC
def dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same transitive closure as dedup_connected_components, computed
    by the same loop: randomised contraction takes O(log n) rounds
    whatever the cluster diameter, the scale path for chain-shaped
    drift clusters that this key names. Identical oracle: the label map
    is algorithm-independent."""
    from cdc_sink_spark.operators.dedup import connected_components

    pairs = _lsh_candidates(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    return connected_components(pairs, "doc_a", "doc_b").select("node", "label")


QUERIES["dedup_cc_star"] = dedup_cc_star
ORACLES["dedup_cc_star"] = _cc_sql()


# ---------------------------------------------- C34: incremental dedup
INCR_DUP_TAU = 0.5


def _corpus_fingerprint(sf_dir: str, existing, table: str = "documents") -> dict:
    """Staleness fingerprint for a persisted derived artifact (the C34
    band index; r14 also the shared streaming feeds): source-table row
    count plus file size/mtime plus a CONTENT signal digested from the
    parquet FOOTER (per-row-group column statistics — min/max,
    null/value counts, compressed sizes — and the writer id). All of it
    is O(footers), never a data scan: a full content hash would be
    exact but costs an O(corpus) text scan per invocation, defeating
    the O(batch) contract the index exists for. The footer digest
    closes the mtime-proxy hole (a corpus regenerated to the same byte
    size with a preserved mtime, e.g. cp -p restore) for any change
    that moves a column's stats — only a regeneration that keeps every
    row-group's min/max/sizes identical slips through, which for text
    corpora means the content is in fact unchanged."""
    import hashlib as _hashlib
    import os as _os

    path = _os.path.join(sf_dir, f"{table}.parquet")
    st = _os.stat(path)
    files = (
        sorted(
            _os.path.join(path, f)
            for f in _os.listdir(path)
            if f.endswith(".parquet")
        )
        if _os.path.isdir(path)
        else [path]
    )
    h = _hashlib.md5()
    n_rows = None
    try:
        import pyarrow.parquet as _pq

        n_rows = 0
        for f in files:
            md = _pq.ParquetFile(f).metadata
            n_rows += md.num_rows
            h.update(repr((f.rsplit("/", 1)[-1], md.created_by, md.num_rows)).encode())
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    s = c.statistics
                    h.update(
                        repr(
                            (
                                c.path_in_schema,
                                c.total_compressed_size,
                                s.num_values if s else None,
                                s.null_count if s else None,
                                str(s.min)[:64] if s and s.has_min_max else None,
                                str(s.max)[:64] if s and s.has_min_max else None,
                            )
                        ).encode()
                    )
        footer_sig = h.hexdigest()
    except Exception:  # noqa: BLE001 — footer unreadable: fall back to stat-only
        footer_sig = None
        n_rows = None
    # n_docs comes from the SAME footers the digest already read
    # (parquet num_rows is exact), not a Spark count() — the count was a
    # full scheduler round-trip per probe invocation for a number the
    # footer loop had in hand (r13; the Spark job only runs in the
    # footer-unreadable fallback). Identical value, so fingerprints
    # stored by earlier builds stay valid.
    return {
        "corpus": sf_dir,
        "n_docs": n_rows if n_rows is not None else existing.count(),
        "bytes": st.st_size,
        "mtime_ns": st.st_mtime_ns,
        "footer_sig": footer_sig,
    }


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a NEW crawl batch (the corpus's drifted
    variant twins, doc_id >= VARIANT_OFFSET) checked against the
    PERSISTED LSH band index of the EXISTING corpus — the steady-state
    shape of a production pipeline, where each day's crawl dedups
    against the kept set instead of re-running full-corpus dedup.

    Per-invocation cost is O(batch): signatures are computed for the
    batch ONLY; the corpus index is a bucketed parquet table
    (operators/lshindex.py) built ONCE per corpus fingerprint (footer
    metadata, not a scan) and the probe join shuffles only the batch
    side. Output per new doc: is_dup at tau, the best-matching indexed
    doc, and the agreement estimate."""
    import os as _os

    from cdc_sink_spark.operators.lshindex import BandIndex, signatures

    existing = _docs(spark, sf_dir).select("doc_id", "text")
    batch = (
        _corpus(spark, sf_dir)
        .filter(F.col("doc_id") >= VARIANT_OFFSET)
        .transform(_spread)
    )
    # Sanitize to a valid unquoted SQL identifier: ANY non-alnum char
    # becomes "_" (a tempdir tag like "sf1-bench-x2" broke the DDL).
    tag = "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))
    # Anchor the index under the REPO's spark-warehouse regardless of the
    # caller's cwd (the grading driver may not run from the repo root,
    # and a cwd-relative path would write outside the repo).
    repo_root = _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    )
    idx = BandIndex(
        spark,
        path=_os.path.join(repo_root, "spark-warehouse", f"lsh_band_index_{tag}"),
        table_name=f"lsh_band_index_{tag}",
        bucket_cap=LSH_BUCKET_CAP,
    )
    idx.build(existing.transform(_spread), fingerprint=_corpus_fingerprint(sf_dir, existing))
    # ONE signature pass over the batch, shared by the probe and the
    # surviving-doc list (recomputing it for `news` would double the
    # per-batch shingle+minhash cost the persisted index exists to cap).
    sigs = signatures(batch).localCheckpoint(eager=False)
    pairs = idx.probe_signatures(sigs)
    best = pairs.groupBy("new_id").agg(
        F.max_by(
            F.struct("old_id", "est"),
            F.struct(F.col("est").alias("e"), (-F.col("old_id")).alias("n")),
        ).alias("b")
    )
    news = sigs.select("doc_id")
    return news.join(best, news.doc_id == best.new_id, "left").select(
        "doc_id",
        F.coalesce(F.col("b.est") >= INCR_DUP_TAU, F.lit(False)).alias("is_dup"),
        F.col("b.old_id").alias("best_match"),
        F.col("b.est").alias("best_est"),
    )


def _incremental_sql() -> str:
    comps = T.sql_minhash_components("sids")
    sig_list = "[" + ", ".join(comps) + "]"
    band_rows = []
    for b in range(T.LSH_BANDS):
        ks = ", ".join(
            f"sig[{b * T.LSH_ROWS + r + 1}] AS k{r}" for r in range(T.LSH_ROWS)
        )
        band_rows.append(f"SELECT doc_id, sig, {b} AS band, {ks} FROM sigs")
    bands = " UNION ALL ".join(band_rows)
    key_eq = " AND ".join(f"l.k{r} = r.k{r}" for r in range(T.LSH_ROWS))
    size_eq = " AND ".join(f"s.k{r} = r.k{r}" for r in range(T.LSH_ROWS))
    agree = (
        f"len(list_filter(list_zip(sig_n, sig_o), p -> p[1] = p[2])) "
        f"* 1.0 / {T.N_HASHES}"
    )
    return f"""
WITH corpus AS ({CORPUS_SQL}),
sids AS (SELECT doc_id, {T.sql_shingle_ids('text')} AS sids FROM corpus),
sigs AS (SELECT doc_id, {sig_list} AS sig FROM sids WHERE len(sids) > 0),
bands AS ({bands}),
idx_sizes AS (
  SELECT band, {', '.join(f'k{r}' for r in range(T.LSH_ROWS))}, COUNT(*) AS n
  FROM bands WHERE doc_id < {VARIANT_OFFSET}
  GROUP BY ALL
),
hits AS (
  SELECT l.doc_id AS new_id, r.doc_id AS old_id,
         ANY_VALUE(l.sig) AS sig_n, ANY_VALUE(r.sig) AS sig_o
  FROM bands l
  JOIN bands r ON l.band = r.band AND {key_eq}
  JOIN idx_sizes s ON s.band = r.band AND {size_eq} AND s.n <= {LSH_BUCKET_CAP}
  WHERE l.doc_id >= {VARIANT_OFFSET} AND r.doc_id < {VARIANT_OFFSET}
  GROUP BY 1, 2
),
pairs AS (SELECT new_id, old_id, {agree} AS est FROM hits),
best AS (
  SELECT new_id, old_id, est FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY est DESC, old_id) rn
    FROM pairs
  ) WHERE rn = 1
)
SELECT s.doc_id,
       COALESCE(b.est >= {INCR_DUP_TAU}, FALSE) AS is_dup,
       b.old_id AS best_match, b.est AS best_est
FROM sigs s LEFT JOIN best b ON b.new_id = s.doc_id
WHERE s.doc_id >= {VARIANT_OFFSET}
"""


QUERIES["dedup_incremental"] = dedup_incremental
ORACLES["dedup_incremental"] = _incremental_sql()


# ----------------------------------------------- C35: distribution drift
DRIFT_Q = 10**12  # fixed-point resolution for the drift sum


def token_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: total-variation distance between the token
    distributions of two corpus halves (even vs odd doc_id — the
    yesterday-vs-today QA check a production pipeline alarms on).
    Add-one smoothing over the joint vocabulary; TV = 0.5 * sum |p-q|.
    Deliberately TRANSCENDENTAL-FREE (no KL): divisions and abs are
    IEEE-exact and engine-identical, where ln() diverges by 1 ulp
    between JVM and libm. The sum itself is fixed-point (2^-40-ish
    resolution via 1e12 scaling) so it is arrival-order-independent.
    Also reports the most-drifted token (ties to the lexicographically
    first)."""
    d = _docs(spark, sf_dir).transform(_spread)
    tok = d.select(
        (F.col("doc_id") % 2 == 0).alias("is_p"),
        F.explode(T.tokens(F.col("text"))).alias("token"),
    )
    # Lazy-checkpoint the vocab counts (r13): TWO consumers (the totals
    # agg broadcast back and the per-token terms) re-ran the whole
    # tokenize+explode+count pipeline twice per call. The materialized
    # frame is vocabulary-sized, not corpus-sized.
    counts = tok.groupBy("token").agg(
        F.sum(F.col("is_p").cast("long")).alias("c_p"),
        F.sum((~F.col("is_p")).cast("long")).alias("c_q"),
    ).localCheckpoint(eager=False)
    totals = counts.agg(
        F.sum("c_p").alias("n_p"), F.sum("c_q").alias("n_q"),
        F.count(F.lit(1)).alias("v"),
    )
    j = counts.crossJoin(F.broadcast(totals))
    p = (F.col("c_p") + 1).cast("double") / (F.col("n_p") + F.col("v")).cast("double")
    q = (F.col("c_q") + 1).cast("double") / (F.col("n_q") + F.col("v")).cast("double")
    diff = F.abs(p - q)
    terms = j.select(
        "token",
        diff.alias("d"),
        F.round(diff * F.lit(float(DRIFT_Q))).cast("long").alias("dq"),
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        (F.sum("dq").cast("double") / F.lit(2.0 * DRIFT_Q)).alias("tv_drift"),
        F.max_by(
            "token", F.struct(F.col("d").alias("d"), _tok_desc())
        ).alias("top_drift_token"),
    )


def _tok_desc():
    # Lexicographically-first tie break inside max_by: invert the token
    # by mapping each char to (255 - code), then append a terminator
    # ABOVE every inverted char (chr 255 > 255-code for any ASCII code
    # >= 1). Without the terminator the inversion is not order-reversing
    # for prefix pairs: inv('ab') is a PREFIX of inv('abc'), so
    # inv('ab') < inv('abc') and max_by would pick 'abc' where the
    # oracle's ORDER BY d DESC, token picks 'ab'.
    return F.concat(
        F.aggregate(
            F.split(F.col("token"), ""),
            F.lit("").cast("string"),
            lambda acc, ch: F.concat(acc, F.chr(F.lit(255) - F.ascii(ch))),
        ),
        F.chr(F.lit(255)),
    ).alias("t")


TOKEN_DRIFT_SQL = f"""
WITH tok AS (
  SELECT doc_id % 2 = 0 AS is_p, unnest({T.sql_tokens('text')}) AS token
  FROM documents
),
counts AS (
  SELECT token,
         CAST(SUM(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS c_p,
         CAST(SUM(CASE WHEN is_p THEN 0 ELSE 1 END) AS BIGINT) AS c_q
  FROM tok GROUP BY token
),
totals AS (
  SELECT CAST(SUM(c_p) AS BIGINT) AS n_p, CAST(SUM(c_q) AS BIGINT) AS n_q,
         COUNT(*) AS v
  FROM counts
),
terms AS (
  SELECT token,
         abs(CAST(c_p + 1 AS DOUBLE) / CAST(n_p + v AS DOUBLE)
           - CAST(c_q + 1 AS DOUBLE) / CAST(n_q + v AS DOUBLE)) AS d
  FROM counts, totals
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
       CAST(SUM(CAST(round(d * {float(DRIFT_Q)}) AS BIGINT)) AS DOUBLE)
         / {2.0 * DRIFT_Q} AS tv_drift,
       (SELECT token FROM terms ORDER BY d DESC, token LIMIT 1) AS top_drift_token
FROM terms
"""

QUERIES["token_drift_tv"] = token_drift_tv
ORACLES["token_drift_tv"] = TOKEN_DRIFT_SQL


# ------------------------------------------- C36: keep best, not first
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: per near-dup cluster keep the
    member with the HIGHEST quality score (ties to the smallest id) —
    the policy real pipelines want (keep the cleanest copy), vs
    dedup_keep_list's keep-first. Composes the transitive closure with
    the quality expression over the same corpus; one extra shuffle on
    the cluster label."""
    labels = dedup_connected_components(spark, sf_dir)  # (node, label)
    c = _corpus(spark, sf_dir)
    q = c.select(
        F.col("doc_id").alias("node"), T.tokens(F.col("text")).alias("toks")
    ).select("node", _quality_expr("toks").alias("quality"))
    j = labels.join(q, "node")
    return j.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max_by(
            "node", F.struct(F.col("quality").alias("q"), (-F.col("node")).alias("n"))
        ).alias("keep_id"),
        F.max("quality").alias("best_quality"),
    )


def _keep_best_sql() -> str:
    return f"""
WITH labels AS ({_cc_sql()}),
corpus AS ({CORPUS_SQL}),
q AS (SELECT doc_id AS node, {_quality_sql()} AS quality FROM corpus),
j AS (SELECT l.label, l.node, q.quality FROM labels l JOIN q USING (node))
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       (SELECT node FROM j j2 WHERE j2.label = j.label
        ORDER BY quality DESC, node LIMIT 1) AS keep_id,
       MAX(quality) AS best_quality
FROM j GROUP BY label
"""


QUERIES["dedup_keep_best_quality"] = dedup_keep_best_quality
ORACLES["dedup_keep_best_quality"] = _keep_best_sql()

QUERIES["containment_pairs"] = containment_pairs
ORACLES["containment_pairs"] = CONTAINMENT_SQL


# ------------------------------------------ C38: training-order shuffle
SHUFFLE_SHARDS = 64


def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: every document
    gets a (shard, pos_in_shard) address from a seeded hash — the
    "shuffle the corpus before epoch 0" step every training pipeline
    runs. A naive global ORDER BY rand() is a single-reducer sort at
    100 TB; the distributed form buckets by hash FIRST (one shuffle on
    the shard) and orders only WITHIN each shard (windows partitioned
    by shard — parallel), which is exactly what a sharded data loader
    consumes: readers stream shards independently, order inside a shard
    is fixed, and the hash makes the whole assignment reproducible
    run-to-run (no rand(), so re-execution after failure yields the
    same epoch order)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select("doc_id")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("epoch0:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.select("doc_id", h.alias("h"))
        .withColumn("shard", (F.col("h") % SHUFFLE_SHARDS).cast("int"))
        .withColumn("pos_in_shard", F.row_number().over(w))
        .select("doc_id", "shard", "pos_in_shard")
    )


SHUFFLE_SHARDS_SQL = f"""
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM documents
)
SELECT doc_id,
       CAST(h % {SHUFFLE_SHARDS} AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY h % {SHUFFLE_SHARDS} ORDER BY h, doc_id) AS INTEGER)
         AS pos_in_shard
FROM h
"""

QUERIES["training_shuffle_shards"] = training_shuffle_shards
ORACLES["training_shuffle_shards"] = SHUFFLE_SHARDS_SQL
