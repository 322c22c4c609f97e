"""Deduplication operators (beyond-reference LLM-data-pipeline surface, plus
the reference's at-least-once dedup contract W8).

Scale notes (the point of each design):

- ``dedup_exact``: groupBy on a fingerprint, keep min id.  One shuffle on the
  fingerprint; with AQE the skew of popular duplicates is split.  Never uses
  ``dropDuplicates`` in oracle-checked paths because its survivor choice is
  nondeterministic under parallelism — min(id) per group is deterministic.
- ``dedup_offsets``: the reference's exactly-once contract (duplicated Kafka
  offsets collapse; docs/dev/design.md:5-12) = groupBy(topic,partition,offset).
- ``minhash_lsh_pairs``: shingle → minhash signature (map-side) → band
  buckets → join within buckets.  The only shuffle is on band keys whose
  cardinality ~ O(docs·bands); candidate verification re-checks true Jaccard
  so false positives from banding don't survive.
- ``ngram_jaccard_pairs``: exact Jaccard via shingle explode + pair join —
  quadratic within shared-shingle groups, used as ground truth / for small
  sides; LSH is the scale path.
- ``simhash_near_dup``: 64-bit simhash, near-dup = hamming ≤ k via banding
  on 4×16-bit chunks (any chunk equal → candidate; k ≤ 3 guarantee).
- ``embedding_near_dup``: cosine ≥ τ pairs via LSH-free blocking on
  coarse quantization, exact re-check with F.zip_with dot products.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    fingerprint_md5,
    minhash_signature,
    minhash_signature_sql,
    simhash60_md5,
    simhash64,
)
from ..functions.text import shingles_from_tokens, shingles_from_tokens_sql


def _rebalance(df: DataFrame) -> DataFrame:
    """Spread compute-heavy map work across all cores when the scan yields
    fewer partitions than the cluster has slots (small/single-file inputs,
    or a few giant row groups).  The hashing/shingling below costs far more
    per row than the round-robin exchange it takes to rebalance; with input
    already ≥ parallelism this is a no-op.  Content-based ops are unaffected
    by row placement, so results are identical."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Estimated-input-bytes threshold above which minhash_lsh_pairs mines
# band-collision candidates with one groupBy(band_hash) aggregation
# instead of the banded self-join.  Metadata-only decision (catalyst
# size estimate ≈ file bytes for a parquet scan — no job runs) with the
# same character as Spark's own autoBroadcastJoinThreshold: below it the
# whole band table is trivially broadcastable and the self-join's lower
# fixed stage count wins; above it the single-shuffle grouped shape wins
# and keeps winning as data grows (the self-join shuffles or broadcasts
# the band table TWICE and must persist it).  Default sits at the
# measured local crossover (self-join faster at 0.6 MB input, grouped
# 1.7× faster at 6 MB); production can lower it to 0 to force the
# grouped shape everywhere.
_LSH_GROUPED_BYTES_CONF = "spark.clickhouse_sinker.lsh.groupedBandJoinBytes"
_LSH_GROUPED_BYTES_DEFAULT = 2 * 1024 * 1024


def _grouped_band_join(df: DataFrame) -> bool:
    """True when ``df``'s catalyst size estimate crosses the grouped-band-
    join threshold.  Results are identical either way (parity test-pinned);
    this only picks the cheaper physical shape, so estimate FAILURES fall
    back to the historical self-join.  Inputs with UNKNOWN stats (e.g.
    RDD-backed frames report Long.MaxValue) choose the grouped shape —
    the scale-safe default, the same convention by which Spark refuses to
    broadcast a relation of unknown size.  A malformed threshold (e.g.
    ``"2MB"``) falls back to the default."""
    conf = df.sparkSession.conf.get(_LSH_GROUPED_BYTES_CONF, str(_LSH_GROUPED_BYTES_DEFAULT))
    try:
        limit = int(conf)
    except ValueError:
        limit = _LSH_GROUPED_BYTES_DEFAULT
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — estimate is advisory only
        return False
    return est >= limit

__all__ = [
    "dedup_exact",
    "dedup_offsets",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_near_dup",
    "embedding_near_dup",
    "semantic_dedup_pairs",
    "exact_substring_dedup",
]


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content fingerprint: keep the min-id row per distinct
    content.  Deterministic survivor (unlike dropDuplicates) → oracle-safe.
    Plan: project fingerprint (map) → hash-agg (one shuffle) — partial
    aggregation makes the shuffle carry one row per distinct doc per task."""
    return (
        df.withColumn("__fp", fingerprint_md5(F.col(text_col)))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .select(id_col, F.col("__fp").alias("fingerprint"), "dup_count")
    )


def dedup_offsets(df: DataFrame, topic: str, partition: str, offset: str) -> DataFrame:
    """At-least-once → effective exactly-once: collapse replayed offsets
    (W8, docs/dev/design.md:5-12).  groupBy (t,p,o); the survivor is ONE
    real payload row — min over the packed payload struct (lexicographic by
    column order), never independent per-column mins, which would fuse two
    conflicting payloads at the same offset into a row that never existed.
    True replays carry identical payloads, so for them this is the same
    one-shuffle plan with a slightly wider shuffle row."""
    others = [c for c in df.columns if c not in (topic, partition, offset)]
    if not others:
        return df.groupBy(topic, partition, offset).agg(F.count(F.lit(1)).alias("__n")).drop("__n")
    packed = F.struct(*[F.col(c) for c in others])
    return (
        df.groupBy(topic, partition, offset)
        .agg(F.min(packed).alias("__payload"))
        .select(topic, partition, offset, *[F.col(f"__payload.{c}").alias(c) for c in others])
    )


def _pair_join(left: DataFrame, right: DataFrame, id_col: str) -> Column:
    return F.col(f"a.{id_col}") < F.col(f"b.{id_col}")


def _pairs_checksum(df: DataFrame, a: str, b: str) -> tuple:
    """Convergence probe for the CC loops: ``(count, xor of xxhash64(a, b))``
    over the rows, in one aggregation.  Type-agnostic (any id type hashes),
    O(1) to compare driver-side; a changed row set keeps both figures only
    by a 2^-64 hash collision."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(a, b)), F.lit(0).cast("bigint")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over a near-dup pair graph → ``(id, component)``
    with component = min member id.  This is the step that turns pairwise
    dedup output into dedup GROUPS (pick one survivor per component).

    Iterative min-label propagation: each round every node takes the min
    label among itself and its neighbors; converges in O(graph diameter)
    rounds (near-dup components are shallow — dup clusters, not chains, so
    a handful of rounds).  Each round is one shuffle on node id; labels are
    localCheckpoint'ed so the plan/lineage stays constant-size across
    rounds instead of doubling.  For graphs with huge diameters swap in
    large-star/small-star; for near-dup clustering this plain loop is the
    right cost.

    Convergence detection: per round, ONE aggregation over the
    just-checkpointed labels — :func:`_pairs_checksum` of (node, label) —
    compared driver-side against the previous round, with no labels⋈labels
    diff join.  It hashes rather than sums the labels, so string and UUID
    ids work under any ANSI setting.
    """
    sym = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    ).union(edges.select(F.col(dst_col).alias("__src"), F.col(src_col).alias("__dst")))
    labels = nodes.select(F.col(id_col).alias("__node"), F.col(id_col).alias("__comp"))
    sym = sym.persist()
    prev: tuple | None = None
    try:
        for _ in range(max_iters):
            prop = sym.join(labels, sym["__src"] == labels["__node"]).select(
                F.col("__dst").alias("__node"), F.col("__comp")
            )
            new_labels = (
                labels.union(prop).groupBy("__node").agg(F.min("__comp").alias("__comp"))
            ).localCheckpoint(eager=True)
            cur = _pairs_checksum(new_labels, "__node", "__comp")
            labels = new_labels
            if prev is not None and cur == prev:
                break
            prev = cur
    finally:
        sym.unpersist()
    return labels.select(F.col("__node").alias(id_col), F.col("__comp").alias("component"))


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) → ``(id, component)`` with component = min member id
    — same contract as :func:`connected_components`.

    Converges in O(log n) rounds regardless of graph diameter, where the
    min-label loop needs O(diameter) rounds: this is the documented swap
    for chain-shaped graphs (reply threads, citation paths, linked page
    sequences).  Each half-round is one shuffle on the star center:

    - large-star(u): every neighbor v > u re-attaches to
      m = min(Γ(u) ∪ {u}) — emitted as the directed pair (v, m);
    - small-star(u): over the remaining (big → small) pairs, every small
      neighbor (and u itself) re-attaches to the minimum neighbor.

    Both steps preserve connectivity and strictly shrink tree height; the
    fixpoint is every node pointing directly at its component minimum.
    Edges are localCheckpoint'ed per round so lineage stays flat, and
    convergence is detected from an O(1) driver-side checksum
    (count + xor of pair hashes), not a full edge-set diff.
    """
    e = (
        edges.select(F.col(src_col).alias("__u"), F.col(dst_col).alias("__v"))
        .filter(F.col("__u") != F.col("__v"))
        .select(
            F.greatest("__u", "__v").alias("__u"), F.least("__u", "__v").alias("__v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    prev = _pairs_checksum(e, "__u", "__v")
    for _ in range(max_iters):
        # large-star: group the SYMMETRIC adjacency by center u; neighbors
        # larger than the center hook onto min(Γ(u) ∪ {u}).
        sym = e.union(e.select(F.col("__v").alias("__u"), F.col("__u").alias("__v")))
        mins = sym.groupBy("__u").agg(F.min("__v").alias("__mn")).select(
            "__u", F.least("__mn", F.col("__u")).alias("__m")
        )
        large = (
            sym.join(mins, "__u")
            .filter(F.col("__v") > F.col("__u"))
            .select(F.col("__v").alias("__u"), F.col("__m").alias("__v"))
            .distinct()
        )
        # small-star: pairs are now all (big → small); every small neighbor
        # and the center itself hook onto the minimum neighbor.
        mins2 = large.groupBy("__u").agg(F.min("__v").alias("__m"))
        small = (
            large.join(mins2, "__u")
            .filter(F.col("__v") != F.col("__m"))
            .select(F.col("__v").alias("__u"), F.col("__m").alias("__v"))
            .union(mins2.select(F.col("__u"), F.col("__m").alias("__v")))
            .filter(F.col("__u") != F.col("__v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        e = small
        cur = _pairs_checksum(e, "__u", "__v")
        if cur == prev:
            break
        prev = cur

    comp = e.groupBy("__u").agg(F.min("__v").alias("__c"))
    lab = nodes.select(F.col(id_col).alias("__node")).join(
        comp, F.col("__node") == F.col("__u"), "left"
    )
    return lab.select(
        F.col("__node").alias(id_col),
        F.coalesce("__c", "__node").alias("component"),
    )


def levenshtein_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: tuple[str, ...] = (),
    len_col: str | None = None,
    bucket: int = 16,
    max_dist: int = 24,
) -> DataFrame:
    """Edit-distance near-dup pairs (id_a < id_b, levenshtein ≤ max_dist)
    within blocking buckets.

    The self-join is equi-keyed on the blocking columns plus a length
    bucket, so the shuffle is a plain hash join on small keys — no O(n²)
    pair space.  A cheap ``|len_a − len_b| ≤ max_dist`` prefilter runs
    before the O(len²) levenshtein (edit distance is lower-bounded by the
    length difference, so this drops no true pair within a bucket).  At
    100 TB, block on content-derived keys (lang, length bucket, source) so
    bucket sizes stay bounded; skewed buckets split via salting upstream.
    """
    df = _rebalance(df)
    lcol = F.col(len_col) if len_col else F.length(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        lcol.alias("n"),
        F.expr(f"{len_col} div {bucket}" if len_col else f"length({text_col}) div {bucket}").alias("bk"),
        *[F.col(c) for c in block_cols],
    )
    a, b = base.alias("a"), base.alias("b")
    cond = (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cond = cond & (F.abs(F.col("a.n") - F.col("b.n")) <= F.lit(max_dist))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein("a.txt", "b.txt").alias("dist"),
        )
        .filter(F.col("dist") <= F.lit(max_dist))
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ threshold).

    explode(shingles) → self-join on shingle → count shared per pair →
    jaccard = shared / (|A| + |B| - shared).  Shuffles: one on shingle, one
    on (id_a,id_b).  Candidate space is bounded by co-occurring shingles;
    for 100 TB use ``minhash_lsh_pairs`` which replaces the shingle join
    with constant-width band keys.
    Output jaccard is exact rational arithmetic (ints divided once at the
    end) → bit-equal in any SQL engine.
    """
    df = _rebalance(df)
    sh = (
        df.select(F.col(id_col).alias("id"), F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"))
        .select("id", F.expr(shingles_from_tokens_sql("`toks`", n)).alias("shingles"))
        .withColumn("n_sh", F.size("shingles"))
    )
    ex = sh.select("id", "n_sh", F.explode("shingles").alias("shingle"))
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("a.n_sh").alias("n_a"),
            F.first("b.n_sh").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "shared", "jaccard")
    )
    return pairs


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-dup pairs at scale.

    Map-side: shingles → num_perm minhashes → ``bands`` band-keys
    (hash of each rows-per-band slice).  Shuffle 1: explode band keys and
    self-join on (band_idx, band_hash) — candidate pairs only.  Shuffle 2:
    distinct pairs, then exact Jaccard re-verification on the candidate set
    (joins back the shingle sets, array_intersect — no second explode).

    rows_per_band = num_perm / bands controls the S-curve: 64/16 → r=4,
    ~threshold 0.5.  All hashing is xxhash64 (JVM-side).

    Shuffle hygiene at scale: the band machinery carries ONLY
    (id, band_hash) — the fat shingle arrays stay out of that shuffle and
    are joined back onto the (much smaller) candidate-pair set for
    verification.

    Candidate mining is size-adaptive (r14, guide §2/§3): above
    ``spark.clickhouse_sinker.lsh.groupedBandJoinBytes`` of estimated
    input (default 2 MiB ≈ the measured local crossover), candidates come
    from ONE aggregation shuffle — groupBy(band_hash) → collect_list(id)
    → in-bucket pair expansion — instead of the banded self-join.  The
    self-join needs the banded table twice (hence a persist + broadcast
    build + probe of the whole corpus's band keys); the grouped shape
    consumes it once, unpersisted, and shuffles each band row exactly
    once.  Interleaved A/B on identical data: 6.93 s → 3.98 s at ~6 MB
    input (sf1), identical 250 352-pair output; below the threshold the
    broadcast self-join stays — at 0.6 MB input it wins by its lower
    fixed stage count (0.63 s vs 0.76 s).  Per-bucket memory for
    collect_list is O(bucket ids) — negligible next to the O(ids²) pair
    OUTPUT both shapes share on a degenerate hot band.
    """
    df = _rebalance(df)
    r = num_perm // bands
    # hot constructions built as single expr() strings (r13): identical
    # expressions to the Column forms (parity test-pinned), ~2 py4j round
    # trips instead of ~350 — Python-side plan construction sat inside the
    # bench's timed region and dominated this operator's small-scale wall.
    sh = (
        df.select(F.col(id_col).alias("id"), F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"))
        .select("id", F.expr(shingles_from_tokens_sql("`toks`", n)).alias("shingles"))
    )
    band_arr = ", ".join(
        f"xxhash64(concat_ws(',', slice(`sig`, {b * r + 1}, {r})), {b})"
        for b in range(bands)
    )
    banded = sh.withColumn(
        "sig", F.expr(minhash_signature_sql("`shingles`", num_perm))
    ).select("id", F.explode(F.expr(f"array({band_arr})")).alias("bh"))
    if _grouped_band_join(df):
        # same candidate set as the self-join: ids sharing a bh value,
        # ordered (x < y); cross-band duplicates fold in dropDuplicates
        # exactly as the join form's did
        pair_gen = (
            "flatten(transform(ids, x -> "
            "transform(filter(ids, y -> y > x), y -> struct(x AS id_a, y AS id_b))))"
        )
        cand = (
            banded.groupBy("bh")
            .agg(F.collect_list("id").alias("ids"))
            .filter(F.size("ids") >= 2)
            .select(F.explode(F.expr(pair_gen)).alias("p"))
            .select("p.id_a", "p.id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        banded = banded.persist()
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(b, (F.col("a.bh") == F.col("b.bh")) & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against an ALREADY-INGESTED corpus —
    the per-ingest shape of ``minhash_lsh_pairs``: instead of a self-join
    over everything, only the batch's band keys probe the corpus's band
    index.  Returns (id_new, id_corpus, jaccard) for exact Jaccard ≥
    ``threshold`` among LSH candidates.

    Scale: at 100 TB the corpus's (band_hash → id) index is computed ONCE
    at landing time and stored bucketed by band_hash; each daily batch
    then shuffles only its own band keys into that layout.  Batch shingle
    arrays re-join only onto the candidate pairs — the fat columns never
    enter the band shuffle (same hygiene as the self-join variant).
    """
    r = num_perm // bands

    def prep(df: DataFrame, label: str):
        sh = (
            df.select(
                F.col(id_col).alias(label),
                F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"),
            )
            .select(label, shingles_from_tokens("toks", n).alias(f"sh_{label}"))
        )
        banded = sh.withColumn(
            "sig", minhash_signature(F.col(f"sh_{label}"), num_perm)
        ).select(
            label,
            F.explode(
                F.array(
                    *[
                        F.xxhash64(
                            F.concat_ws(",", F.slice(F.col("sig"), b * r + 1, r)),
                            F.lit(b),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bh"),
        )
        return sh, banded

    sh_new, band_new = prep(_rebalance(batch), "id_new")
    sh_old, band_old = prep(_rebalance(corpus), "id_corpus")
    cand = (
        band_new.join(band_old, "bh")
        .select("id_new", "id_corpus")
        .dropDuplicates(["id_new", "id_corpus"])
    )
    inter = F.size(F.array_intersect(F.col("sh_id_new"), F.col("sh_id_corpus"))).cast("double")
    union = (F.size("sh_id_new") + F.size("sh_id_corpus")).cast("double") - inter
    return (
        cand.join(sh_new, "id_new")
        .join(sh_old, "id_corpus")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_new", "id_corpus", "jaccard")
    )


def simhash_near_dup(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3, sketch: str = "xx64"
) -> DataFrame:
    """SimHash near-dup pairs: hamming(sim_a, sim_b) ≤ max_hamming.

    Banding on 4 equal chunks: pairs within hamming ≤ 3 must agree on at
    least one chunk (pigeonhole), so candidates = equal-chunk joins — the
    classic scalable simhash index.  Exact hamming re-check via bit_count.

    ``sketch``: "xx64" (production — 64-bit xxhash64 tokens, 4×16-bit
    chunks) or "md5_60" (60-bit md5-derived tokens, 4×15-bit chunks —
    bit-identical in ANSI SQL engines, so the full output is
    oracle-checkable; see functions/hashing.py:md5_hash60).
    """
    df = _rebalance(df)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    if sketch == "md5_60":
        sim_expr, chunk_bits, n_chunks = simhash60_md5(toks), 15, 4
    else:
        sim_expr, chunk_bits, n_chunks = simhash64(toks), 16, 4
    mask = (1 << chunk_bits) - 1
    base = df.select(F.col(id_col).alias("id"), sim_expr.alias("sim"))
    chunks = base.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("sim"), i * chunk_bits).bitwiseAND(F.lit(mask)).alias("ck"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "sim", F.col("c.chunk").alias("chunk"), F.col("c.ck").alias("ck"))
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= F.lit(max_hamming))
    )


def embedding_near_dup(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95
) -> DataFrame:
    """Embedding cosine near-dup pairs (cos ≥ threshold).

    Blocking key: sign pattern of the first 8 dimensions (random-hyperplane
    LSH with axis-aligned planes) — near-identical vectors share the block
    with high probability; exact cosine re-check inside blocks via
    ``zip_with`` dot products (JVM-side, vectorized)."""
    df = _rebalance(df)
    sign_block = F.lit(0)
    for i in range(1, 9):
        sign_block = sign_block * 2 + F.when(F.element_at(F.col(vec_col), i) >= 0, F.lit(1)).otherwise(F.lit(0))
    norm = F.sqrt(F.aggregate(F.transform(F.col(vec_col), lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sign_block.alias("blk"), norm.alias("nrm")
    )
    a, b = base.alias("a"), base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023, public):
    k-means clusters are the dedup blocks, so the quadratic pair join runs
    only WITHIN a cluster — the clustering bounds the all-pairs blowup the
    same way LSH bands do for MinHash.

    Composition: ``kmeans_lloyd`` (one narrow shuffle per iteration) →
    self-join on ``cluster`` (one shuffle; AQE splits a skewed mega-
    cluster) → integer-quantized cosine (floor(x·1000) dot products are
    order-independent integer sums → bit-identical across engines, the
    ``dedup_embedding_cosine`` trick).  At 100 TB: k scales with corpus
    size so mean cluster population stays bounded, and the pair join
    carries only (id, cluster, qv) — raw float vectors never shuffle."""
    from .similarity import kmeans_lloyd

    assigned, _, _ = kmeans_lloyd(df, vec_col, id_col, k=k, iters=iters)
    qv = F.transform(F.col("v"), lambda x: F.floor(x * 1000.0).cast("bigint"))
    base = assigned.select("id", "cluster", qv.alias("qv")).withColumn(
        "sq", F.aggregate(F.col("qv"), F.lit(0).cast("bigint"), lambda a, x: a + x * x)
    )
    a, b = base.alias("a"), base.alias("b")
    dotq = F.aggregate(
        F.zip_with(F.col("a.qv"), F.col("b.qv"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.cluster").alias("cluster"),
            (
                dotq.cast("double")
                / (F.sqrt(F.col("a.sq")) * F.sqrt(F.col("b.sq")))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Exact substring (span-level) dedup à la Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better", public):
    every run of ≥ ``k`` whitespace tokens that occurs more than once in
    the corpus is removed from every occurrence EXCEPT the canonical one —
    the lexicographically smallest ``(id, start)`` — and the document is
    rewritten without the removed tokens.  Doc-level dedup (``dedup_exact``
    / MinHash) misses boilerplate shared across otherwise-distinct pages;
    this is the operator that catches it.

    Deterministic contract (oracle-matchable bit-for-bit):

    - tokens = ``split(trim(text), '\\s+')``; empty docs are excluded and
      docs shorter than ``k`` pass through unchanged;
    - an occurrence is ``(id, s)`` with gram = tokens[s .. s+k-1]
      (0-based start);
    - removable = gram occurs > 1 time corpus-wide (intra-doc repeats
      count) AND (id, s) != min(id, s) over the gram's occurrences;
    - removed positions = union of [s, s+k) over removable occurrences —
      overlapping grams merge into longer spans exactly as in the paper;
    - output per doc: token counts, merged-span count, and the cleaned
      text (surviving tokens joined by single spaces).

    Scale shape (the reason this is not a suffix-array port): grams never
    travel as strings — each occurrence is reduced map-side to
    ``xxhash64(gram)`` so the only wide data ever shuffled is
    ``(hash, id, start)``.  Stages: one partial-aggregated groupBy on the
    gram hash (count + min-struct are both map-side combinable), one
    hash-join back to occurrences ON THE SAME KEY (co-partitioned with the
    groupBy — AQE reuses the exchange), one groupBy(id) to gather a doc's
    removal starts, one join back to the token arrays.  Per-doc work is
    pure column expressions (fold over the sorted starts for span
    merge/coverage, lambda filter for the rewrite) — no Python UDFs, no
    driver-side loops, and the k-gram explode is a bounded ×(n-k+1) row
    multiplier of narrow (id, long, int) rows.  64-bit hashing makes a
    cross-gram collision ~n²/2⁶⁴ — at 100 TB (~10¹² grams) expect ~0.03
    collided pairs; each would only over-remove one span, never corrupt
    unrelated docs."""
    toks = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("__id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
        )
    )
    # (id, s, hash) occurrences — hash computed map-side, strings stay put
    occ = (
        toks.filter(F.size("__toks") >= k)
        .select(
            "__id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(__toks) - {k}), "
                    f"s -> xxhash64(concat_ws(' ', slice(__toks, s + 1, {k}))))"
                )
            ).alias("s", "h"),
        )
    )
    grp = occ.groupBy("h").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.struct(F.col("__id"), F.col("s"))).alias("canon"),
    )
    rem = (
        occ.join(grp.filter(F.col("c") > 1), "h")
        .filter(
            ~(
                (F.col("__id") == F.col("canon.__id"))
                & (F.col("s") == F.col("canon.s"))
            )
        )
        .select("__id", "s")
    )
    starts = rem.groupBy("__id").agg(
        F.sort_array(F.collect_list("s")).alias("__starts")
    )
    j = toks.join(starts, "__id", "left").withColumn(
        "__starts", F.coalesce("__starts", F.expr("array()").cast("array<int>"))
    )
    # one ascending pass over the sorted starts: intervals are all length k,
    # so the running end is simply s + k; a start at or below the running
    # end (overlapping OR touching) extends the current span by
    # (s + k - pend) covered tokens — only a strict gap opens a new span
    acc = F.expr(
        f"aggregate(__starts, named_struct('spans', 0, 'covered', 0, 'pend', -1), "
        f"(a, s) -> IF(s > a.pend, "
        f"named_struct('spans', a.spans + 1, 'covered', a.covered + {k}, 'pend', s + {k}), "
        f"named_struct('spans', a.spans, 'covered', a.covered + (s + {k} - a.pend), 'pend', s + {k})))"
    )
    # The coverage test below runs per token; testing against raw starts is
    # O(tokens × starts) — quadratic for a long mostly-duplicated doc (every
    # position a removal start).  Merge starts into disjoint [lo, hi) spans
    # first: a sorted start opens a span iff it leaves a strict gap over its
    # predecessor's end (s > prev + k), and a span's end is its last chained
    # start + k.  Two O(starts) lambda filters (no quadratic array append);
    # `get()` is 0-based and NULL out-of-bounds, so the boundary disjuncts
    # stay safe under ANSI mode.  There are ≤ ceil(starts / 1) spans but,
    # crucially, ≤ tokens/k + 1 DISJOINT ones, so the rewrite is bounded at
    # O(tokens × tokens/k) even in the pathological all-duplicate case.
    spans = F.expr(
        f"zip_with("
        f"filter(transform(__starts, (s, i) -> "
        f"IF(i = 0 OR s > get(__starts, i - 1) + {k}, s, NULL)), x -> x IS NOT NULL), "
        f"filter(transform(__starts, (s, i) -> "
        f"IF(get(__starts, i + 1) IS NULL OR get(__starts, i + 1) > s + {k}, s + {k}, NULL)), "
        f"x -> x IS NOT NULL), "
        f"(lo, hi) -> named_struct('lo', lo, 'hi', hi))"
    )
    j = j.withColumn("__spans", spans)
    clean = F.expr(
        "concat_ws(' ', filter(transform(__toks, (t, i) -> "
        "IF(exists(__spans, sp -> i >= sp.lo AND i < sp.hi), NULL, t)), "
        "t -> t IS NOT NULL))"
    )
    return j.select(
        F.col("__id").alias(id_col),
        F.size("__toks").alias("n_tokens"),
        acc["covered"].alias("n_removed"),
        acc["spans"].alias("n_spans"),
        clean.alias("clean_text"),
    )
