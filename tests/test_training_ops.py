"""C-suite tests: text/vector primitives cross-checked against their
DuckDB fragments (the same parity the driver's gate enforces), plus the
multimodal plumbing."""

from __future__ import annotations

import os
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from cdc_sink_spark.functions import text as T
from cdc_sink_spark.functions import vectors as V
from cdc_sink_spark.operators import multimodal


def test_fold_hash_matches_duckdb(spark):
    samples = ["abc", "hello world", "", "a"]
    got = (
        spark.createDataFrame([(s,) for s in samples], "t string")
        .select("t", T.fold_hash("t").alias("h"))
        .collect()
    )
    con = duckdb.connect()
    for row in got:
        expect = con.execute(f"select {T.sql_fold_hash('?')}", [row.t]).fetchone()[0]
        assert row.h == expect, row.t


def test_minhash_signature_matches_duckdb(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    sig = (
        spark.createDataFrame([(text,)], "t string")
        .select(T.minhash_signature(T.shingle_ids("t")).alias("sig"))
        .collect()[0]
        .sig
    )
    con = duckdb.connect()
    comps = T.sql_minhash_components(T.sql_shingle_ids(f"'{text}'"))
    expect = con.execute("select [" + ",".join(comps) + "]").fetchone()[0]
    assert list(sig) == list(expect)


def test_simhash_similar_texts_close(spark):
    a = "spark table join merge batch window agg sort"
    b = "spark table join merge batch window agg hash"  # one token differs
    c = "completely different words entirely unrelated content here now"
    rows = (
        spark.createDataFrame([(a,), (b,), (c,)], "t string")
        .select(T.simhash(T.tokens("t")).alias("h"))
        .collect()
    )
    ha, hb, hc = (r.h for r in rows)
    assert bin(ha ^ hb).count("1") < bin(ha ^ hc).count("1")


def test_cosine_matches_duckdb(spark):
    a = [1.0, 2.0, 3.5, -1.25]
    b = [0.5, -2.0, 1.0, 4.0]
    got = (
        spark.range(1)
        .select(
            V.cosine(
                F.array(*[F.lit(x) for x in a]), F.array(*[F.lit(x) for x in b])
            ).alias("c")
        )
        .collect()[0]
        .c
    )
    con = duckdb.connect()
    expect = con.execute(f"select {V.sql_cosine(str(a), str(b))}").fetchone()[0]
    assert got == expect  # bit-identical, same fold order


def test_shingles_edges(spark):
    rows = (
        spark.createDataFrame([("a b",), ("a b c",), ("",)], "t string")
        .select(T.shingles(T.tokens("t")).alias("s"))
        .collect()
    )
    assert rows[0].s == []  # shorter than n
    assert rows[1].s == ["a b c"]
    assert rows[2].s == []


def test_shingles_match_concat_ws_slice_reference(spark):
    # The element_at-concat n-gram construction (r13) must emit byte-
    # identical strings to the original concat_ws-over-slice form it
    # replaced (the rewrite only removes a per-shingle array alloc).
    def reference(t, n=T.SHINGLE_N):
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    rows = (
        spark.createDataFrame(
            [("a b c d e f",), ("x1 y22 z333",), ("one two",), ("",)], "t string"
        )
        .select(
            T.shingles(T.tokens("t")).alias("got"),
            reference(T.tokens("t")).alias("want"),
        )
        .collect()
    )
    for r in rows:
        assert r.got == r.want


def test_signatures_stage_tokenizer_once(spark):
    # Staged-token regression pin (r13): the signature pipeline must
    # evaluate the regexp tokenizer at most twice per row (the raw-text
    # length guard + the staged toks projection). Before the staging fix
    # the tokenizer sat INSIDE the shingle lambda and the executed plan
    # carried it per n-gram position (HOF lambdas get no CSE).
    from cdc_sink_spark.operators import lshindex
    from cdc_sink_spark.plans import inspect as I

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = I.executed_plan(lshindex.signatures(docs))
    assert plan.count("regexp_extract_all") <= 2


# ------------------------------------------------------------- multimodal
def test_decode_images_batch_shape(spark):
    media = multimodal.make_media(spark, 30)
    feats = multimodal.decode_images(media)
    rows = feats.collect()
    assert len(rows) == 10  # every 3rd row is an image
    r = {x.media_id: x for x in rows}[0]
    assert r.n_bytes == 64
    assert 0 <= r.byte_mean <= 255 and r.byte_min <= r.byte_max


def test_resize_plumbing(spark):
    media = multimodal.make_media(spark, 9)
    out = multimodal.resize_images(media, 32, 24)
    rows = out.collect()
    assert all(r.width == 32 and r.height == 24 for r in rows)
    assert all(r.payload is not None for r in rows)


def test_sample_frames(spark):
    media = multimodal.make_media(spark, 9)
    out = multimodal.sample_frames(media, every_n=10)
    per = out.groupBy("media_id").count().collect()
    # 25 frames, every 10th -> indices 0,10,20 = 3 frames per video
    assert all(r["count"] == 3 for r in per)


def test_decode_audio_is_stubbed(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(multimodal.make_media(spark, 3))


def test_lsh_bucket_cap_bounds_adversarial_corpus(spark, tmp_path, monkeypatch):
    """An all-identical corpus lands every doc in one band bucket; the
    cap drops it from pair generation so the job stays bounded instead
    of emitting m*(m-1)/2 pairs (SCALE.md pathological-bucket guard)."""
    from cdc_sink_spark.queries import textops

    n = 60
    docs = spark.createDataFrame(
        [(i, "the same boilerplate banner text repeated on every page of the site") for i in range(n)],
        "doc_id bigint, text string",
    )
    sf = str(tmp_path / "adv")
    docs.write.parquet(f"{sf}/documents.parquet")
    # Normal cap: identical docs collide in every band -> O(n^2) pairs.
    assert textops.dedup_minhash_lsh(spark, sf).count() == (2 * n) * (2 * n - 1) // 2
    # Capped: the oversized bucket is excluded entirely.
    monkeypatch.setattr(textops, "LSH_BUCKET_CAP", 10)
    assert textops.dedup_minhash_lsh(spark, sf).count() == 0
    assert textops.dedup_simhash_pairs(spark, sf).count() == 0


def test_pair_joins_never_broadcast_corpus(spark, sf_dir):
    """embedding_near_dup / semantic_dedup pair generation must be a
    shuffle equi-join on the blocking key, NEVER an unconditional
    broadcast of the corpus-sized relation (OOMs every executor at
    100 TB). With the auto-broadcast threshold disabled, the only
    broadcasts left in any plan must be hint-free impossible — except
    semantic_dedup's 8-row centroid codebook, which is deliberately
    hinted. AQE may still upgrade at runtime from measured sizes;
    that's the point: size-based, not unconditional."""
    from cdc_sink_spark.plans import inspect
    from cdc_sink_spark.queries import vectors

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = inspect.executed_plan(vectors.embedding_near_dup(spark, sf_dir))
        assert "Broadcast" not in p  # no hint anywhere in this query
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
        p = inspect.executed_plan(vectors.semantic_dedup(spark, sf_dir))
        # Only the tiny-codebook cross-join hints survive; the pair join
        # and the final membership join shuffle on the cell id.
        assert p.count("BroadcastExchange") == p.count("BroadcastNestedLoopJoin")
        assert "BroadcastHashJoin" not in p
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ivf_assign_uses_maxby_not_window(spark, sf_dir):
    """IVF cell assignment is an argmax: it must plan as a partial-agg
    max_by (map-side combine), not a row_number window that sorts the
    8x-corpus scored relation inside a full shuffle."""
    from cdc_sink_spark.plans import inspect
    from cdc_sink_spark.queries import vectors

    p = inspect.executed_plan(vectors.ann_ivf_assign(spark, sf_dir))
    # No per-vector window remains (probe's rank window over the k
    # TakeOrdered survivors is fine — it never sees the corpus).
    assert "windowspecdefinition(vec_id" not in p
    assert "partial_max_by" in p
    # ann_ivf_probe and semantic_dedup share _argmax_centroid but
    # checkpoint the assignment (it has two/three consumers, and without
    # the checkpoint the 8x scoring pipeline materialized once per
    # consumer), so their assign subplan sits behind a Scan ExistingRDD
    # boundary and its partial_max_by isn't visible in the returned plan;
    # assert the checkpoint boundary is there and the downstream is clean.
    for fn in (vectors.ann_ivf_probe, vectors.semantic_dedup):
        p = inspect.executed_plan(fn(spark, sf_dir))
        assert "windowspecdefinition(vec_id" not in p, fn.__name__
        assert "Scan ExistingRDD" in p, fn.__name__


def test_connected_components_star_matches_propagation(spark):
    """The one CC loop (randomised contraction, which replaced both
    min-label propagation and large-star/small-star) returns the exact
    (node, label) map on a graph with several clusters, a triangle, a
    chain and a pair."""
    from cdc_sink_spark.operators import dedup

    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (20, 21),
             (5, 30), (30, 6), (6, 40), (40, 7)]
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = sorted((r.node, r.label) for r in dedup.connected_components(df).collect())
    assert got == [
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 5), (10, 10), (11, 10),
        (12, 10), (20, 20), (21, 20), (30, 5), (40, 5),
    ]  # the chain 5-30-6-40-7 collapses to 5


def test_connected_components_star_beats_diameter(spark, job_count):
    """On a 64-node chain min-label propagation needs ~diameter rounds;
    contraction must converge in O(log n). Round 1 runs 4 jobs (the
    adjacency groupBy, the message exchange, the contraction exchange
    and the checkpoint), each later round 3, and the collect 1, so
    rounds <= 8 is jobs <= 26."""
    from cdc_sink_spark.operators import dedup

    chain = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(chain, "a bigint, b bigint")
    got = []
    jobs = job_count(lambda: got.extend(dedup.connected_components(df).collect()))
    assert sorted(r.node for r in got) == list(range(65))
    assert {r.label for r in got} == {0}  # one component rooted at the min node
    assert jobs <= 26, jobs  # <= 8 rounds, far under the 64-hop diameter


def test_connected_components_converge_past_25_hops(spark):
    """The CC loop runs to its fixed point: a 27-node chain (26 hops) is
    one component, so every node carries label 0. A loop capped at 25
    rounds returned unconverged labels here."""
    from cdc_sink_spark.operators import dedup

    df = spark.createDataFrame([(i, i + 1) for i in range(26)], "a bigint, b bigint")
    got = sorted((r.node, r.label) for r in dedup.connected_components(df).collect())
    assert got == [(i, 0) for i in range(27)]


def _union_find_labels(edges):
    """Reference closure: node -> min node id of its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:  # the smaller root wins, so a root is its set's min
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _random_graph(seed):
    """Edges over random 40-bit ids: a chain of 31 hops, a hub with 27
    spokes, small random trees with extra intra-tree edges, self-loops
    (one on an otherwise isolated node), duplicate and reversed edges."""
    rng = random.Random(seed)
    ids = rng.sample(range(1, 1 << 40), 140)
    chain, hub, rest = ids[:32], ids[32:60], ids[60:]
    edges = list(zip(chain, chain[1:]))
    edges += [(hub[0], x) for x in hub[1:]]
    while rest:
        k = rng.randint(2, 6)
        g, rest = rest[:k], rest[k:]
        edges += [(g[i], g[rng.randrange(i)]) for i in range(1, len(g))]
        edges += [(rng.choice(g), rng.choice(g)) for _ in range(len(g) // 2)]
    edges += [(x, x) for x in rng.sample(ids, 5)] + [(1 << 41, 1 << 41)]
    dups = rng.sample(edges, 20)
    edges += [(b, a) if rng.random() < 0.5 else (a, b) for a, b in dups]
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("seed", [3, 11])
def test_connected_components_equal_union_find(spark, seed):
    """The CC loop returns exactly the union-find closure: one row per
    node, labelled with its component's min id, on a random graph with
    every edge shape the LSH candidate stream can carry."""
    from cdc_sink_spark.operators import dedup

    edges = _random_graph(seed)
    expect = sorted(_union_find_labels(edges).items())
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = sorted((r.node, r.label) for r in dedup.connected_components(df).collect())
    assert got == expect


def test_connected_components_job_count(spark, job_count):
    """Contraction runs three jobs per round (two exchanges plus the
    checkpoint), and round 1 one more for the adjacency groupBy: on
    pairs plus a 4-node path that is two rounds, then the collect."""
    from cdc_sink_spark.operators import dedup

    edges = [(1, 2), (10, 11), (20, 21), (21, 22), (22, 23)]
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = []
    assert job_count(lambda: got.extend(dedup.connected_components(df).collect())) == 8
    assert sorted((r.node, r.label) for r in got) == [
        (1, 1), (2, 1), (10, 10), (11, 10), (20, 20), (21, 20), (22, 20), (23, 20)
    ]


def _mini_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_band_index_build_probe_roundtrip(spark, tmp_path):
    """Persisted band index: an exact-duplicate batch doc must probe to
    est 1.0 against its corpus twin; a disjoint doc must miss; and the
    probe plan must NOT recompute corpus signatures (the corpus text is
    never read — only the index parquet)."""
    from cdc_sink_spark.operators.lshindex import BandIndex

    corpus = _mini_docs(
        spark,
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight nine ten")],
    )
    batch = _mini_docs(
        spark,
        [(101, "alpha beta gamma delta epsilon zeta eta theta"),   # dup of 1
         (102, "totally unrelated words compose this brand new doc")],
    )
    idx = BandIndex(spark, str(tmp_path / "idx"), "t_bandidx_rt")
    version = idx.build(corpus, fingerprint={"n": 2})
    assert os.path.dirname(version) == idx.path
    assert os.path.isdir(os.path.join(version, "base"))
    hits = {(r.new_id, r.old_id): r.est for r in idx.probe(batch).collect()}
    assert hits[(101, 1)] == 1.0
    assert all(new != 102 for new, _ in hits)
    # O(batch) evidence: the probe plan reads the index table, not the
    # corpus lineage (no shingle/minhash recompute of corpus text).
    from cdc_sink_spark.plans import inspect

    plan = inspect.executed_plan(idx.probe(batch))
    assert "t_bandidx_rt" in plan
    spark.sql("DROP TABLE IF EXISTS t_bandidx_rt")


def test_band_index_probe_shuffles_only_batch_side(spark, tmp_path):
    """The steady-state join must read the bucketed index WITHOUT an
    Exchange above its scan — only the batch side shuffles. This is the
    whole point of persisting the index bucketed on the band key."""
    from cdc_sink_spark.operators.lshindex import BandIndex
    from cdc_sink_spark.plans import inspect

    corpus = _mini_docs(
        spark, [(i, f"word{i} alpha beta gamma delta epsilon {i}") for i in range(20)]
    )
    idx = BandIndex(spark, str(tmp_path / "idx"), "t_bandidx_plan")
    idx.build(corpus)
    plan = inspect.executed_plan(idx.probe(corpus.limit(3)))
    # Walk the plan: the index scan node must not have an Exchange
    # between it and the join. Cheap string form: the scan line for the
    # bucketed table appears, and "Bucketed: true" confirms the reader
    # honored the bucket layout (Spark prints it in the scan node).
    scan_chunks = [c for c in plan.split("FileScan") if "t_bandidx_plan" in c.split("\n")[0]]
    assert scan_chunks, plan
    assert "Bucketed: true" in scan_chunks[0].split("FileScan")[0], scan_chunks[0][:500]
    spark.sql("DROP TABLE IF EXISTS t_bandidx_plan")


def test_band_index_append_compact(spark, tmp_path):
    """Appended deltas are probed without a rebuild; compaction folds
    them into the bucketed base with identical probe results."""
    from cdc_sink_spark.operators.lshindex import BandIndex

    corpus = _mini_docs(spark, [(1, "alpha beta gamma delta epsilon zeta eta")])
    day2 = _mini_docs(spark, [(2, "one two three four five six seven eight")])
    batch = _mini_docs(spark, [(201, "one two three four five six seven eight")])
    idx = BandIndex(spark, str(tmp_path / "idx"), "t_bandidx_ac")
    idx.build(corpus)
    assert idx.probe(batch).count() == 0  # day2 not indexed yet
    idx.append(day2)
    delta = os.path.join(idx.version, "delta")
    assert os.path.isdir(delta)
    hits = {(r.new_id, r.old_id) for r in idx.probe(batch).collect()}
    assert hits == {(201, 2)}
    idx.compact()
    assert not os.path.isdir(delta)
    hits2 = {(r.new_id, r.old_id) for r in idx.probe(batch).collect()}
    assert hits2 == {(201, 2)}
    spark.sql("DROP TABLE IF EXISTS t_bandidx_ac")


def test_script_dispatch_many_fanout(spark):
    """One mutation -> multiple target tables (loader.go:56-64): the
    array router fans a row into every listed destination, empty arrays
    elide the row, unlisted routes are dropped."""
    from cdc_sink_spark.operators.script import script_dispatch_many

    df = spark.createDataFrame(
        [(1, "both"), (2, "main_only"), (3, "elided"), (4, "unlisted")],
        "id bigint, tag string",
    )
    router = (
        F.when(F.col("tag") == "both", F.array(F.lit("main"), F.lit("audit")))
        .when(F.col("tag") == "main_only", F.array(F.lit("main")))
        .when(F.col("tag") == "unlisted", F.array(F.lit("elsewhere")))
        .otherwise(F.array().cast("array<string>"))
    )
    routes = script_dispatch_many(df, router, ["main", "audit"])
    assert {r.id for r in routes["main"].collect()} == {1, 2}
    assert {r.id for r in routes["audit"].collect()} == {1}
    assert routes["main"].columns == df.columns


def test_topk_plans_use_take_ordered(spark, sf_dir):
    """Top-k operators must plan as TakeOrderedAndProject (per-partition
    heaps), never a global-window single-reducer sort of the corpus."""
    from cdc_sink_spark.plans import inspect
    from cdc_sink_spark.queries import textops, vectors

    from cdc_sink_spark.queries import tpch_extra

    for fn in (
        vectors.ann_topk_bruteforce,
        vectors.ann_ivf_probe,
        textops.vocab_top_tokens,
        textops.bigram_merge_frequencies,
        tpch_extra.q2_min_cost_supplier,
        tpch_extra.q21_waiting_supplier,
    ):
        plan = inspect.executed_plan(fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, fn.__name__


def test_ansi_edge_cases_no_crash(spark):
    """Spark 4 ANSI-mode edges found by review: a <CHUNK_W-token doc in
    chunk dedup (sequence(1,0) is DESCENDING [1,0], not empty), a zero
    embedding in int8 quantization (127/0 throws), and a numeric beyond
    decimal(38,9) in crep canonicalization — all must compute, not
    throw."""
    from pyspark.sql.types import DoubleType

    from cdc_sink_spark.functions import crep
    from cdc_sink_spark.functions import text as T
    from cdc_sink_spark.queries.textops import CHUNK_MASK, CHUNK_W

    # 1. chunk pipeline on a 2-token doc (inline replica of the guarded
    # expression path — the gate entry runs the same code over _corpus).
    d = spark.createDataFrame([(1, "just two")], "doc_id bigint, text string")
    toks = T.tokens(F.col("text"))
    hashes = F.transform(
        T.shingles(toks, CHUNK_W),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % T.P,
    )
    idx = F.when(F.size(hashes) >= 1, F.sequence(F.lit(1), F.size(hashes))).otherwise(
        F.array().cast("array<int>")
    )
    bounds = F.filter(idx, lambda i: F.element_at(hashes, i) % CHUNK_MASK == 0)
    assert d.select(F.size(bounds).alias("b")).collect()[0].b == 0

    # 2. zero-vector quantization: scale 0, all-zero codes.
    e = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id bigint, embedding array<double>")
    mx = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x)))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    row = e.select(scale.alias("s")).collect()[0]
    assert row.s == 0.0

    # 3. crep canonical on out-of-decimal-range numerics: distinct huge
    # values stay distinct and never equal the NULL sentinel.
    big = spark.createDataFrame([(1e30,), (2e30,), (None,)], "x double")
    got = [r.c for r in big.select(crep.canonical("x", DoubleType()).alias("c")).collect()]
    assert len(set(got)) == 3 and crep.NULL_SENTINEL in got


def test_band_index_lock_and_race_safe_build(spark, tmp_path):
    """build() resolves one immutable version per fingerprint: the same
    fingerprint returns the same directory without rebuilding, a changed
    one publishes a new version, and a held flock on the index root
    blocks a build until released (the kernel releases a crashed
    holder's flock, so no stale-steal heuristic can evict a live one)."""
    import fcntl
    import threading
    import time

    from cdc_sink_spark.operators.lshindex import BandIndex

    corpus = _mini_docs(spark, [(1, "alpha beta gamma delta epsilon zeta eta")])
    idx = BandIndex(spark, str(tmp_path / "idx"), "t_bandidx_lock")
    v1 = idx.build(corpus, fingerprint={"v": 1})
    base_inode = os.stat(os.path.join(v1, "base")).st_ino
    # Same fingerprint: the published version is served, not rebuilt.
    assert idx.build(corpus, fingerprint={"v": 1}) == v1
    assert os.stat(os.path.join(v1, "base")).st_ino == base_inode
    # Changed fingerprint publishes a new version beside the old one.
    v2 = idx.build(corpus, fingerprint={"v": 2})
    assert v2 != v1 and os.path.isdir(os.path.join(v1, "base"))

    # A held flock blocks; releasing it lets the builder proceed. (Two
    # separate os.open() fds have distinct open-file descriptions, so
    # flock conflicts between them even within one process.)
    lock = str(tmp_path / "idx") + ".lock"
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    done = threading.Event()
    t = threading.Thread(
        target=lambda: (idx.build(corpus, fingerprint={"v": 3}), done.set())
    )
    t.start()
    time.sleep(1.0)
    assert not done.is_set()  # still waiting on the flock
    fcntl.flock(fd, fcntl.LOCK_UN)
    os.close(fd)
    t.join(timeout=60)
    assert done.is_set() and idx.version not in (v1, v2)
    assert os.path.isdir(os.path.join(idx.version, "base"))
    spark.sql("DROP TABLE IF EXISTS t_bandidx_lock")


def test_corpus_fingerprint_catches_content_change(tmp_path):
    """The band-index staleness fingerprint folds a parquet-FOOTER
    content digest in: a corpus regenerated with different content but
    preserved mtime (cp -p style restore) must still read as stale."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_sink_spark.queries.textops import _corpus_fingerprint

    class _FakeDF:  # only .count() is consulted
        def count(self):
            return 2

    d = str(tmp_path / "sf")
    os.makedirs(d)
    p = os.path.join(d, "documents.parquet")
    pq.write_table(
        pa.table({"doc_id": [0, 1], "text": ["alpha beta", "gamma delta"]}), p
    )
    st = os.stat(p)
    fp1 = _corpus_fingerprint(d, _FakeDF())
    assert fp1["footer_sig"] is not None
    # Regenerate with DIFFERENT content, same row count; restore mtime.
    pq.write_table(
        pa.table({"doc_id": [0, 1], "text": ["zzzz yyyy", "wwww vvvv"]}), p
    )
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    fp2 = _corpus_fingerprint(d, _FakeDF())
    assert fp2["footer_sig"] != fp1["footer_sig"]
    assert fp2 != fp1
    # Identical regeneration keeps the digest stable (no false staleness).
    pq.write_table(
        pa.table({"doc_id": [0, 1], "text": ["zzzz yyyy", "wwww vvvv"]}), p
    )
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    fp3 = _corpus_fingerprint(d, _FakeDF())
    assert fp3["footer_sig"] == fp2["footer_sig"]


def test_bench_sf1_replicas_keep_oracle_parity(spark, tmp_path):
    """The sf1 bench's replicated dataset must preserve Spark<->DuckDB
    bit-parity — otherwise its published ratios compare the engines on
    DIFFERENT answers, not different speeds. mult=2 over sf0.001; one
    key per compute family: the LSH signature pipeline, the pure-map
    simhash, and the fixed-point kmeans aggregate."""
    import shutil

    import duckdb

    from cdc_sink_spark.queries import registry
    from tools import check_correctness as cc
    from tools.bench_sf1 import build_sf1

    d = build_sf1(spark, 2, src="/root/testdata/sf0.001")
    try:
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{d}/{t}.parquet/*.parquet')"
            )
        for key in ("dedup_minhash_lsh", "dedup_simhash", "kmeans_refine_step"):
            problems = cc.compare_one(
                spark, con, d, registry.QUERIES[key], registry.ORACLES[key]
            )
            assert problems == [], (key, problems)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_simhash_pairs_two_tier_salt(spark, tmp_path):
    """Work-proportional salting (r14): only buckets whose size exceeds
    SALT_ROWS_PER_SALT may replicate the right join side (K =
    ceil(m/256) > 1); small buckets must keep K=1 (the unsalted path),
    and the pair set must be identical to the naive bucket-local
    self-join. A corpus with one hot bucket (many identical docs, m=600
    incl. twins -> K=3) and distinct fillers exercises both tiers."""
    from pyspark.sql import functions as F

    from cdc_sink_spark.queries import textops

    hot = [(i, "identical boilerplate banner text repeated across every page") for i in range(300)]
    cold = [(1000 + i, f"unique filler document number {i} with plain words") for i in range(40)]
    sf = str(tmp_path / "tier")
    spark.createDataFrame(hot + cold, "doc_id bigint, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    # The hot bucket (600 rows incl. twins) salts at K=3 while the cold
    # buckets stay at K=1.
    pairs = textops.dedup_simhash_pairs(spark, sf).localCheckpoint(eager=True)
    # Plan must carry the per-bucket replication (sequence-explode), not
    # a flat 32-literal array.
    plan = pairs._sc._jvm.PythonSQLUtils.explainString(
        textops.dedup_simhash_pairs(spark, sf)._jdf.queryExecution(), "formatted"
    )
    assert "sequence(0" in plan, "per-bucket salt count missing from plan"
    # Naive reference: bucket-local self-join without any salt.
    from cdc_sink_spark.functions import text as T

    c = textops._corpus(spark, sf)
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
    bands = sh.select("doc_id", "simhash", F.explode(band_arr).alias("bk")).select(
        "doc_id", "simhash", "bk.band", "bk.bkey"
    )
    l = bands.select("band", "bkey", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    r = bands.select("band", "bkey", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    ref = (
        l.join(r, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
        .dropDuplicates(["doc_a", "doc_b"])
        .localCheckpoint(eager=True)
    )
    assert pairs.exceptAll(ref).count() == 0
    assert ref.exceptAll(pairs).count() == 0
