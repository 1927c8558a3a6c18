"""Round-10 operator behavior: the √n coarse-quantizer rule
(`_sqrt_cells`), the sampled k-means fit (`fit_sample_mod`), and the
engine-portable rounding recipe (`float_round` + the 1e-10-unit
centroid mean) that keeps the k-means family bit-identical between
Spark and the DuckDB oracles."""

from __future__ import annotations

import math
import random

import duckdb
import pytest
from pyspark.sql import functions as F


# --------------------------------------------------- _sqrt_cells rule


def test_sqrt_cells_rule_values():
    from __spark_entry__ import _sqrt_cells

    # sandbox corpora: floor of 8 cells, exact full fit (mod 1)
    assert _sqrt_cells(499) == (22, 1)
    assert _sqrt_cells(500) == (22, 1)
    assert _sqrt_cells(1999) == (44, 1)
    assert _sqrt_cells(64) == (8, 1)
    # the n/250-vs-√n crossover point: both rules said 250 here, but
    # the fit starts sampling (~40 vectors/centroid)
    assert _sqrt_cells(62500) == (250, 6)
    # at 10^9 the old rule gave 4M cells (assignment n²/250); √n keeps
    # assignment and pair work balanced at n^1.5
    cells, mod = _sqrt_cells(10**9)
    assert cells == 31622 and mod == 790
    # sample size ≈ 40·√n: enough training points per centroid
    assert 20 <= (10**9 // mod) // cells <= 80


def test_sqrt_cells_monotone_and_balanced():
    from __spark_entry__ import _sqrt_cells

    prev = 0
    for n in [10, 10**3, 10**4, 10**5, 10**6, 10**7, 10**8]:
        cells, mod = _sqrt_cells(n)
        assert cells >= prev
        prev = cells
        if n >= 100:
            # assignment n·cells and pairs n²/cells within 2× of each
            # other (the balance that makes both Θ(n^1.5))
            assert abs(math.log10(n * cells) - math.log10(n * n / cells)) < 0.31


# ------------------------------------------- sampled k-means fit


def _clustered_corpus(spark, n, dim=8, k=4, seed=7):
    """Planted k-cluster corpus: cluster centers on coordinate axes,
    points = center + small deterministic jitter. Planted labels follow
    the ids' md5 order (the engines' seed order), so kmeans_fit's k
    seeds land one per planted cluster and Lloyd's answer is the
    planted partition — the test then isolates the SAMPLING knob
    instead of Lloyd's sensitivity to a degenerate init."""
    import hashlib

    rng = random.Random(seed)
    by_md5 = sorted(
        range(n), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    planted = {vid: rank % k for rank, vid in enumerate(by_md5)}
    rows = []
    for i in range(n):
        c = planted[i]
        vec = [0.0] * dim
        vec[c] = 1.0
        vec = [float(v + (rng.random() - 0.5) * 0.1) for v in vec]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_fit_sample_mod_one_is_identity(spark):
    from kubernetes_logs_datalake_spark.operators.vectors import kmeans_fit

    df = _clustered_corpus(spark, 200)
    c_full, _ = kmeans_fit(df, "vec_id", "embedding", k=4, iters=2)
    c_one, _ = kmeans_fit(
        df, "vec_id", "embedding", k=4, iters=2, fit_sample_mod=1
    )
    assert c_full == c_one
    with pytest.raises(ValueError, match="fit_sample_mod"):
        kmeans_fit(df, "vec_id", "embedding", k=4, fit_sample_mod=0)


def test_kmeans_sampled_fit_agreement(spark):
    """The sampled fit must induce (almost) the same PARTITION as the
    full fit — the auto_time_bucket pick-stability contract applied to
    centroids. Label ids may permute between fits, so the metric is
    pairwise co-assignment agreement (Rand index) over a deterministic
    pair sample: with a 1-in-3 hash sample it must stay ≥0.9 (the
    planted structure dominates, so which rows Lloyd trains on barely
    moves the partition)."""
    from kubernetes_logs_datalake_spark.operators.vectors import kmeans_fit

    df = _clustered_corpus(spark, 1200)
    _, asg_full = kmeans_fit(df, "vec_id", "embedding", k=4, iters=3)
    _, asg_samp = kmeans_fit(
        df, "vec_id", "embedding", k=4, iters=3, fit_sample_mod=3
    )
    full = {r.vec_id: r.cluster for r in asg_full.collect()}
    samp = {r.vec_id: r.cluster for r in asg_samp.collect()}
    assert set(full) == set(samp) and len(full) == 1200
    rng = random.Random(11)
    ids = sorted(full)
    agree = total = 0
    for _ in range(20000):
        a, b = rng.sample(ids, 2)
        total += 1
        agree += (full[a] == full[b]) == (samp[a] == samp[b])
    assert agree / total >= 0.9


# ------------------------------------------- MRL two-stage funnel


def test_truncated_refine_recall_monotone_in_candidates(spark):
    """The refine stage can only reorder prefilter survivors, so
    recall@10 vs exact brute force is non-decreasing in k′ and reaches
    1.0 when k′ covers the corpus; at k′=k it equals the plain
    truncated recall (same candidate set, reordered)."""
    from kubernetes_logs_datalake_spark.operators.similarity import (
        brute_force_topk,
        truncated_refine_topk,
        truncated_topk,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").filter(
        F.col("vec_id") != 0
    )
    q = [
        float(v)
        for v in spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .collect()[0]["embedding"]
    ]
    n = emb.count()
    bf = {r.vec_id for r in brute_force_topk(emb, "embedding", q, k=10).collect()}
    trunc = {
        r.vec_id
        for r in truncated_topk(emb, "embedding", q, dim_keep=16, k=10).collect()
    }
    recalls = []
    for cands in (10, 40, 160, n):
        got = {
            r.vec_id
            for r in truncated_refine_topk(
                emb, "embedding", q, dim_keep=16, k=10, n_candidates=cands
            ).collect()
        }
        recalls.append(len(got & bf) / 10)
    assert recalls == sorted(recalls)
    assert recalls[0] == len(trunc & bf) / 10
    assert recalls[-1] == 1.0
    with pytest.raises(ValueError, match="dim_keep"):
        truncated_refine_topk(emb, "embedding", q, dim_keep=0)


# ------------------------------------------- multi-probe IVF kNN join


def test_ivf_knn_join_nprobe_monotone_and_exact_at_full_probe(spark):
    """n_probe=1 must be bit-identical to the default; recall of the
    join's pairs is monotone in n_probe, and probing ALL cells
    generates every pair, i.e. the exact kNN join."""
    from kubernetes_logs_datalake_spark.operators.similarity import (
        ivf_knn_join,
    )

    df = _clustered_corpus(spark, 240, dim=8, k=4)
    base = ivf_knn_join(df, "vec_id", "embedding", k=2, cells=4, iters=2)
    one = ivf_knn_join(
        df, "vec_id", "embedding", k=2, cells=4, iters=2, n_probe=1
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, one.collect())
    )

    def pairs(p):
        out = ivf_knn_join(
            df, "vec_id", "embedding", k=2, cells=4, iters=2, n_probe=p
        )
        return {(r.query_id, r.neighbor_id) for r in out.collect()}

    exact = pairs(4)  # all cells probed = every pair scored
    prev = -1.0
    for p in (1, 2, 4):
        rec = len(pairs(p) & exact) / len(exact)
        assert rec >= prev
        prev = rec
    assert prev == 1.0
    with pytest.raises(ValueError, match="n_probe"):
        ivf_knn_join(df, "vec_id", "embedding", cells=4, n_probe=0)


def test_ivf_join_recall_probed_beats_single_probe(spark):
    """The registered 4-probe recall must dominate the 1-probe recall
    on the same probe panel (the knob is worthless otherwise)."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    r1 = e.queries()["ann_recall_ivf_join"](spark, sf).collect()[0]
    r4 = e.queries()["ann_recall_ivf_join_probed"](spark, sf).collect()[0]
    assert r4.recall >= r1.recall
    assert r1.n_queries == r4.n_queries > 0


# ------------------------------------- no-oracle contract registry lint


def test_no_oracle_contract_is_complete():
    """Every registered query WITHOUT an oracle must carry the full
    no-oracle contract: a windowed exact sibling (that itself HAS an
    oracle) and a named agreement pytest that exists at the declared
    path — mechanical, so the contract can't silently decay as the
    registry grows (r9 verdict item 9)."""
    import os
    import re

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    missing = sorted(set(qs) - set(oracles))
    assert missing == sorted(e._NO_ORACLE_SIBLINGS), (
        "oracle-less queries must be declared in _NO_ORACLE_SIBLINGS: "
        f"{missing}"
    )
    assert set(e._NO_ORACLE_AGREEMENT_TESTS) == set(e._NO_ORACLE_SIBLINGS)
    for name, sibling in e._NO_ORACLE_SIBLINGS.items():
        assert sibling in qs and sibling in oracles, (
            f"{name}'s sibling {sibling} must be a registered query "
            "with an oracle"
        )
        ref = e._NO_ORACLE_AGREEMENT_TESTS[name]
        path, func = ref.split("::")
        full = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), path)
        assert os.path.exists(full), f"{name}: missing test file {path}"
        src = open(full).read()
        assert re.search(rf"^def {re.escape(func)}\(", src, re.M), (
            f"{name}: agreement test {func} not found in {path}"
        )


# ------------------------------------------- SQ8 pack guard + serving


def test_sq8_pack_null_and_ragged_guard(spark):
    """concat_ws silently skips NULL elements, which would shift every
    later dimension's substring decode (r9 ADVICE): with dim set, a
    NULL array packs to NULL, while ragged or NULL-element arrays fail
    loudly instead of mis-packing."""
    from kubernetes_logs_datalake_spark.operators.vectors import sq8_pack

    ok = spark.createDataFrame(
        [(1, [0, 127, 255]), (2, None)], "id long, codes array<int>"
    )
    rows = {r.id: r.packed for r in sq8_pack(ok, "id", dim=3).collect()}
    assert rows[1] == bytes([0, 127, 255])
    assert rows[2] is None

    for bad_rows in ([(3, [1, 2])], [(4, [1, None, 3])]):
        bad = spark.createDataFrame(bad_rows, "id long, codes array<int>")
        with pytest.raises(Exception, match="sq8_pack"):
            sq8_pack(bad, "id", dim=3).collect()


def test_sq8_served_matches_encode_in_query(spark):
    """The stored-codes serving query must return byte-identical
    results to the encode-in-query packed path — same decode
    expression over the same persisted bytes."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    # the global-SQ8 served row is RETIRED from the driver registry
    # (r15 capacity policy) — the operator contract stays pinned here
    # through the private query fn
    served = e._ann_topk_sq8_served(spark, sf).collect()
    packed = e.queries()["ann_topk_sq8_packed"](spark, sf).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in packed]
    # second call reuses the session-persisted frame (cache hit)
    again = e._ann_topk_sq8_served(spark, sf).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in served]


# --------------------------------- portable rounding parity (float_round)


def test_float_round_matches_duckdb_bit_for_bit(spark):
    """float_round's op sequence (mul, add, floor, div — all correctly
    rounded IEEE) must give bit-identical doubles in Spark and DuckDB,
    including at the x.xxxxxx5 boundaries where F.round(double) and
    DuckDB round(double) disagree."""
    from kubernetes_logs_datalake_spark.functions.vectors import float_round

    import math

    vals = [
        0.0444444, 0.0444445, 0.0444446, 0.9826405, -0.9826405,
        0.0000005, -0.0000005, 1.5e-7, 123.4567894999, -123.4567895001,
        0.1, -0.1, 2.675, 1e-12, -1e-12, 987654.3210987,
    ]
    # constructed boundary family: every m.5·1e-6 neighborhood in
    # [0, 2), plus the nearest representable doubles on either side —
    # exactly where F.round/duckdb-round historically flipped
    for m in range(0, 2_000_000, 37_501):
        b = (m + 0.5) / 1e6
        vals += [b, math.nextafter(b, 0.0), math.nextafter(b, 2.0), -b]
    # seeded uniform sweep (python floats ARE IEEE doubles, so the
    # python mirror below is the ground truth all engines must match)
    rng = random.Random(20260815)
    vals += [rng.uniform(-1000, 1000) for _ in range(4000)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [
        r.r for r in df.select(float_round(F.col("v"), 6).alias("r")).collect()
    ]
    py = [math.floor(v * 1e6 + 0.5) / 1e6 for v in vals]
    assert got == py
    # feed DuckDB the exact doubles through Arrow — a SQL literal would
    # round-trip via DECIMAL(18,17), whose →DOUBLE cast is NOT
    # correctly rounded (one ulp off near boundaries), polluting the
    # fixture before the expression under test even runs
    import pyarrow as pa

    con = duckdb.connect()
    con.register("t", pa.table({"v": pa.array(vals, pa.float64())}))
    want = [
        r[0]
        for r in con.execute(
            "SELECT floor(v * 1000000.0 + 0.5) / 1000000.0 FROM t"
        ).fetchall()
    ]
    assert want == py


def test_portable_centroid_mean_matches_duckdb(spark):
    """The full portable mean recipe (quantize to 1e-10 integer units →
    exact integer sum → one double division → float_round) must be
    bit-identical across engines on float32 inputs whose decimal
    expansions differ between Spark's shortest-repr cast and DuckDB's
    exact-expansion cast — the r10 root cause."""
    from kubernetes_logs_datalake_spark.operators.vectors import label_centroids

    rng = random.Random(3)
    vecs = [
        [float(f"{rng.uniform(-1, 1):.9g}") for _ in range(6)]
        for _ in range(97)
    ]
    df = spark.createDataFrame(
        [(1, v) for v in vecs], "label long, vec array<float>"
    )
    got = label_centroids(df, "label", "vec", portable_round=True).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"({v!r}::FLOAT[])" for v in vecs)
        + ") s(vec)"
    )
    want = con.execute(
        """
        SELECT list(val ORDER BY pos) FROM (
            SELECT u.pos,
                   floor((CAST(sum(CAST(floor(CAST(u.val AS DOUBLE)
                                              * 10000000000.0 + 0.5)
                                      AS HUGEINT)) AS DOUBLE)
                          / (CAST(count(*) AS DOUBLE) * 10000000000.0))
                         * 1000000.0 + 0.5) / 1000000.0 AS val
            FROM t,
                 unnest(list_transform(range(1, len(t.vec) + 1),
                        i -> {'pos': i - 1, 'val': t.vec[i]})) AS s(u)
            GROUP BY u.pos)
        """
    ).fetchone()[0]
    assert list(got.centroid) == list(want)
    assert got.n_vectors == 97


# ---------------------------------- PPJoin positional filter losslessness


def test_jaccard_prefix_filters_lossless_on_random_varied_corpus(spark):
    """The r10 positional + length candidate filters must keep the
    prefix join EXACTLY equal to brute force on a randomized corpus
    with heavy-tailed vocabulary and varying doc lengths (the length
    filter is only exercised when sizes differ), including threshold
    boundaries where Jaccard == t exactly."""
    from kubernetes_logs_datalake_spark.operators.dedup import (
        jaccard_prefix_join,
        ngram_jaccard_pairs,
    )

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(120)]
    docs = []
    for i in range(120):
        ln = rng.choice([4, 6, 9, 14, 20])
        # zipf-ish: hot head words plus a rare tail
        words = [
            vocab[min(int(rng.paretovariate(1.1)), 119)] for _ in range(ln)
        ]
        docs.append((i, " ".join(words)))
        if i % 5 == 0:  # planted near-dups, sometimes with extra words
            docs.append((1000 + i, " ".join(words + ["extra"] * (i % 3))))
    # exact-boundary pair: |A∩B|/|A∪B| == 0.5 precisely
    docs += [(5001, "a b c d"), (5002, "a b e f")]  # J = 2/6 = 0.3333
    docs += [(5003, "p q r s"), (5004, "p q r s t u v w")]  # J = 0.5
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.3333, 0.5, 0.7):
        brute = {
            (r.id_a, r.id_b): round(r.jaccard, 4)
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", n=1, threshold=t
            ).collect()
        }
        fast = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_prefix_join(
                df, "doc_id", "text", n=1, threshold=t
            ).collect()
        }
        assert fast == brute, t
