"""Text primitives for the training-data pipeline, as paired
Spark-Column / DuckDB-SQL constructions.

Every primitive here exists twice: a Column expression (JVM-side,
whole-stage codegen, no Python in the hot path) and a SQL-fragment
generator emitting the *identical* arithmetic for the DuckDB oracle.
All hashing is integer-modular so both engines agree bit-for-bit.

Scale notes: token/shingle hashing is O(chars) per row inside codegen;
minhash is H array_min passes over the shingle-id array — no shuffle at
all until the LSH band group-by.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"
P = 1_000_000_007  # fold modulus; keeps a*31+c far inside int64
SHINGLE_N = 3

# MinHash parameters: H universal-hash functions (a*x + b) mod P.
# Fixed odd multipliers/offsets; shared verbatim with the oracle SQL.
MINHASH_A = [
    999999937, 999999893, 999999883, 999999797, 999999761, 999999757,
    999999751, 999999739, 999999733, 999999677, 999999667, 999999613,
    999999607, 999999541, 999999527, 999999503,
]
MINHASH_B = [
    15485863, 15485867, 15485917, 15485927, 15485933, 15485941,
    15485959, 15485989, 15485993, 15486013, 15486041, 15486047,
    15486059, 15486071, 15486101, 15486139,
]
N_HASHES = len(MINHASH_A)
LSH_BANDS = 4
LSH_ROWS = N_HASHES // LSH_BANDS

SIMHASH_BITS = 30

# Constant-heavy Spark expressions are built from SQL text generated
# once from the parameters above, not from Column calls: every Column
# builder call is a py4j round trip, so the 16-entry (a, b) table built
# from F.struct/F.lit/cast/alias made minhash_signature cost 643 round
# trips per call, against 80 with the text, which the JVM parses in
# one. The arithmetic is the same either way. operators/lshindex.py
# (band keys) and queries/textops.py (bucket pairs) follow this rule.
MINHASH_AB_SQL = "array({})".format(
    ", ".join(
        f"named_struct('a', CAST({a} AS BIGINT), 'b', CAST({b} AS BIGINT))"
        for a, b in zip(MINHASH_A, MINHASH_B)
    )
)


# ------------------------------------------------------------------ Spark
def tokens(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


def fold_hash(col) -> Column:
    """Polynomial char fold: h = (h*31 + ascii(c)) mod P, h0 = 0."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % P,
    )


def shingles(tok_col, n: int = SHINGLE_N) -> Column:
    """Word n-grams as strings (space-joined).

    PASS A PLAIN ATTRIBUTE as ``tok_col`` whenever the token array is
    referenced more than trivially: the lambda body below references the
    token array per shingle position, and higher-order functions
    re-evaluate any non-attribute outer expression ONCE PER ELEMENT —
    an inline ``tokens(text)`` argument re-runs the regexp tokenizer
    for every shingle of every row (measured ~2x on the whole sids
    stage at sf0.1; see shingle_ids_from_tokens). The n-gram itself is
    built by direct element_at concatenation — the previous
    ``concat_ws(" ", slice(t, i, n))`` allocated an n-element array per
    shingle just to join it (a further ~20% of the stage). Same
    strings, byte for byte."""
    t = F.col(tok_col) if isinstance(tok_col, str) else tok_col

    def gram(i):
        parts = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at(t, i + j))
        return F.concat(*parts)

    return F.when(
        F.size(t) >= n,
        F.transform(F.sequence(F.lit(1), F.size(t) - (n - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))


def shingle_ids_from_tokens(tok_col, n: int = SHINGLE_N) -> Column:
    """Distinct shingle hashes over an ALREADY-STAGED token array.

    Hash = md5 of the shingle string, truncated to 15 hex digits and
    reduced mod P. md5/conv are *native codegen'd* functions on both
    engines; a per-char lambda fold here would run interpreted per
    shingle (measured ~10x slower at sf0.1). The mod-P reduction keeps
    the minhash multiply a*s inside int64.

    ``tok_col`` should be a projected attribute, not an inline
    ``tokens(text)`` expression — see shingles() for why (per-element
    lambda re-evaluation)."""
    sh = shingles(tok_col, n)
    return F.array_distinct(
        F.transform(
            sh,
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % P,
        )
    )


def shingle_ids(col, n: int = SHINGLE_N) -> Column:
    """Distinct shingle hashes for a text column — convenience wrapper.

    Prefer staging ``tokens(text)`` into its own projection and calling
    shingle_ids_from_tokens on the attribute: applied to raw text, the
    tokenizer expression sits inside the shingle lambda and is
    re-evaluated once per shingle position (HOF lambdas get no CSE)."""
    return shingle_ids_from_tokens(tokens(col), n)


def minhash_signature(sid_col) -> Column:
    """Array of H minhash components over the shingle-id array.

    Single-fold formulation: one pass over the sid array updates all H
    minima via zip_with, so the (possibly expensive) sid expression is
    referenced exactly once — H separate array_min(transform(...)) calls
    embed H copies of it in the plan and Catalyst evaluates the shingle
    pipeline H times per row (a measured 16x blowup at sf0.1)."""
    sids = F.col(sid_col) if isinstance(sid_col, str) else sid_col
    ab = F.expr(MINHASH_AB_SQL)
    init = F.array_repeat(F.lit(P).cast("long"), N_HASHES)
    return F.aggregate(
        sids,
        init,
        lambda acc, s: F.zip_with(acc, ab, lambda m, h: F.least(m, (h["a"] * s + h["b"]) % P)),
    )


def simhash(tok_col, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over token fold-hashes: bit b set iff the sum of
    (+1/-1 per token, by bit b of the token hash) is positive.

    Single-fold formulation (same rule as minhash_signature): ONE pass
    over the token hashes updates all ``bits`` counters via zip_with.
    The previous per-bit loop referenced the token-hash transform once
    PER BIT inside one projection, so Catalyst re-evaluated the whole
    per-token char fold 30x per row (measured 8.8s -> ~1s at sf0.1 once
    the honest noop-sink bench stopped letting count() prune the simhash
    expression entirely). Identical integer arithmetic, bit-identical
    output — only the evaluation order changes."""
    t = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    th = F.transform(
        t,
        lambda tok: F.aggregate(
            F.split(tok, ""), F.lit(0).cast("long"), lambda acc, ch: (acc * 31 + F.ascii(ch)) % P
        ),
    )
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    counts = F.aggregate(
        th,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda c, m: c
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts, masks, lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


# ----------------------------------------------------------------- DuckDB
def sql_tokens(expr: str) -> str:
    return f"regexp_extract_all(lower({expr}), '{TOKEN_RE}')"


def sql_fold_hash(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * 31 + b) % {P})"
    )


def sql_shingle_ids(expr: str, n: int = SHINGLE_N) -> str:
    toks = sql_tokens(expr)
    sh = (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')) "
        f"ELSE [] END"
    )
    md5h = "CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)"
    return f"list_distinct(list_transform({sh}, s -> {md5h} % {P}))"


def sql_minhash_components(sids_expr: str) -> list[str]:
    return [
        f"list_min(list_transform({sids_expr}, s -> (CAST({a} AS BIGINT) * s + {b}) % {P}))"
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]


def sql_simhash(tokens_expr: str, bits: int = SIMHASH_BITS) -> str:
    th = f"list_transform({tokens_expr}, t -> {sql_fold_hash('t')})"
    terms = []
    for b in range(bits):
        bit_sum = (
            f"list_sum(list_prepend(CAST(0 AS BIGINT), list_transform({th}, "
            f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)))"
        )
        terms.append(f"CASE WHEN {bit_sum} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END")
    return "(" + " + ".join(terms) + ")"
