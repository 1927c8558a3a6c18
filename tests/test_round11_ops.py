"""Round-11 operators and guards.

Covers (r10 verdict directives + ADVICE):
- the k-means oracle's sampled-fit boundary guard (`_ddb_sqrt_cells_limit`
  errors loudly where `_sqrt_cells` would sample, instead of silently
  diverging — r10 ADVICE item 2);
- the session-cache key fix (`_session_key` is the applicationId, not
  `id(spark)` — r10 ADVICE item 4);
- the two-level cell split for the cell-local pair stages
  (`split_oversized_cells`: planted-hot-cell fixture, bounded per-cell
  pair counts, identity on balanced corpora — r10 verdict directive 1).
"""

from __future__ import annotations

import duckdb
import pytest


def _limit_value(n: int):
    import __spark_entry__ as entry

    expr = entry._ddb_sqrt_cells_limit()
    sql = f"WITH corpus AS (SELECT * FROM range({n}) t(vec_id)) SELECT {expr}"
    return duckdb.connect().execute(sql).fetchone()[0]


def test_sqrt_cells_oracle_guard_inactive_below_boundary():
    """Below n=6400 the Spark fit is exact (fit_sample_mod == 1), so the
    oracle expression must keep returning greatest(8, isqrt(n)) — the
    pre-guard behavior that every hash-checked SF relies on."""
    import __spark_entry__ as entry

    for n in (1, 100, 2000, 6399):
        cells, fit_mod = entry._sqrt_cells(n)
        assert fit_mod == 1, f"boundary mismatch at n={n}"
        assert _limit_value(n) == cells


def test_sqrt_cells_oracle_guard_errors_at_sampling_boundary():
    """At n>=6400 `_sqrt_cells` yields fit_sample_mod>1 (the Spark fit
    trains on a hash sample the unrolled full-corpus oracle cannot
    mirror); the oracle must fail loudly, never silently diverge."""
    import __spark_entry__ as entry

    assert entry._sqrt_cells(6400)[1] > 1
    with pytest.raises(Exception, match="oracle boundary"):
        _limit_value(6400)
    with pytest.raises(Exception, match="fit_sample_mod"):
        _limit_value(50_000)


def test_session_cache_key_is_application_id(spark):
    """Session-bound DataFrame caches key on applicationId: unique per
    SparkContext in a process, and — unlike id(spark) — never handed to
    a new session by the allocator after the old one is collected."""
    import __spark_entry__ as entry

    k = entry._session_key(spark)
    assert isinstance(k, str) and k
    assert k == spark.sparkContext.applicationId
    assert k == entry._session_key(spark)  # stable within a session


@pytest.fixture(scope="module")
def skewed_corpus(spark):
    """Planted-hot-cell corpus (r10 verdict directive 1's fixture): 30%
    of rows sit in one tight Gaussian blob, the rest are uniform, and
    the handcrafted coarse centers put the entire blob in ONE cell —
    the skew shape a replicated/uniform fixture can never produce."""
    import numpy as np

    rng = np.random.default_rng(7)
    n_hot, n_cold, dim = 600, 1400, 8
    hot = rng.normal(0.9, 0.05, (n_hot, dim))
    cold = rng.uniform(0, 1, (n_cold, dim))
    rows = [
        (i, [float(v) for v in vec])
        for i, vec in enumerate(np.vstack([hot, cold]))
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    centers = [[0.9] * dim] + [
        [(j % 5) * 0.25, (j // 5) * 0.25] + [0.4] * (dim - 2)
        for j in range(10)
    ]
    return df.localCheckpoint(), centers


def test_split_oversized_cells_bounds_planted_hot_cell(spark, skewed_corpus):
    """One cell holding ~30% of the corpus (693 rows) must come out of
    the split with every cell <= cap — the bounded per-cell pair count
    the r10 verdict asked to see — while preserving rows, parent
    nesting, and replay parity for the multi-probe query side."""
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.cellsplit import (
        apply_cell_splits,
        split_oversized_cells,
    )
    from kubernetes_logs_datalake_spark.operators.vectors import kmeans_assign

    df, centers = skewed_corpus
    assigned = kmeans_assign(df, "vec_id", "embedding", centers)
    sizes = {r[0]: r[1] for r in assigned.groupBy("cluster").count().collect()}
    cap = 176  # 4 * sqrt(2000) — the _cell_split_cap rule at this n
    assert max(sizes.values()) > 3 * cap, "fixture must plant a fat cell"

    refined, splits = split_oversized_cells(
        assigned, "vec_id", "embedding", cap=cap
    )
    post = {r[0]: r[1] for r in refined.groupBy("cell").count().collect()}
    assert max(post.values()) <= cap
    assert sum(post.values()) == sum(sizes.values())  # no row lost
    assert splits, "split must have activated"
    # bounded pair work: worst shuffle key now holds <= cap^2 pairs
    worst_pairs = max(s * (s - 1) // 2 for s in post.values())
    assert worst_pairs <= cap * (cap - 1) // 2
    # children nest inside their parent cell
    assert (
        refined.filter(
            F.split(F.col("cell"), "/")[0]
            != F.col("cluster").cast("string")
        ).count()
        == 0
    )
    # replaying the splits onto the same primary rows is bit-identical
    # (this is what keeps the multi-probe query side consistent with
    # the neighbor side)
    replay = apply_cell_splits(
        assigned.withColumn("cell", F.col("cluster").cast("string")),
        "embedding",
        splits,
    )
    assert (
        refined.select("vec_id", "cell")
        .join(
            replay.select("vec_id", F.col("cell").alias("c2")), "vec_id"
        )
        .filter(F.col("cell") != F.col("c2"))
        .count()
        == 0
    )


def test_split_identity_when_no_cell_oversized(spark, skewed_corpus):
    """With cap above the fattest cell the split must be a pure
    pass-through (cell == cast(cluster as string), zero split rounds) —
    the property that keeps every hash-checked sandbox query
    bit-identical with split_cap wired in."""
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.cellsplit import (
        split_oversized_cells,
    )
    from kubernetes_logs_datalake_spark.operators.vectors import kmeans_assign

    df, centers = skewed_corpus
    assigned = kmeans_assign(df, "vec_id", "embedding", centers)
    refined, splits = split_oversized_cells(
        assigned, "vec_id", "embedding", cap=10_000
    )
    assert splits == []
    assert (
        refined.filter(
            F.col("cell") != F.col("cluster").cast("string")
        ).count()
        == 0
    )


def test_split_hash_round_bounds_unsplittable_duplicates(spark):
    """>cap exact-duplicate vectors can never be separated by k-means
    (no geometry to find); the final HASH round must still bound every
    cell — deterministically, nested in the parent, and replayable via
    apply_cell_splits — instead of raising or silently running the
    quadratic cell."""
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.cellsplit import (
        apply_cell_splits,
        split_oversized_cells,
    )
    from kubernetes_logs_datalake_spark.operators.vectors import kmeans_assign

    rows = [(i, [0.5, 0.5, 0.5, 0.5]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    assigned = kmeans_assign(
        df, "vec_id", "embedding", [[0.5] * 4, [0.0] * 4]
    )
    refined, splits = split_oversized_cells(
        assigned, "vec_id", "embedding", cap=50, max_rounds=2
    )
    post = {r[0]: r[1] for r in refined.groupBy("cell").count().collect()}
    assert max(post.values()) <= 50
    assert sum(post.values()) == 120
    assert any(kind == "hash" for kind, _ in splits)
    assert (
        refined.filter(
            F.split(F.col("cell"), "/")[0]
            != F.col("cluster").cast("string")
        ).count()
        == 0
    )
    replay = apply_cell_splits(
        assigned.withColumn("cell", F.col("cluster").cast("string")),
        "embedding", splits, id_col="vec_id",
    )
    assert (
        refined.select("vec_id", "cell")
        .join(replay.select("vec_id", F.col("cell").alias("c2")), "vec_id")
        .filter(F.col("cell") != F.col("c2"))
        .count()
        == 0
    )


def test_semdedup_split_cap_bounds_pairs_and_keeps_contract(
    spark, skewed_corpus
):
    """semdedup with split_cap on the planted-hot-cell corpus: the pair
    stage is bounded (it completes where max_cluster would raise), the
    verdict contract holds (one row per input, exactly one keep per
    component), and the output still reports PARENT cluster/dist."""
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.semdedup import semdedup

    df, centers = skewed_corpus
    out = semdedup(
        df, "vec_id", "embedding", k=len(centers), iters=3,
        threshold=0.9, centers=centers, split_cap=176,
    ).localCheckpoint()
    assert out.count() == 2000
    keeps = out.groupBy("component").agg(
        F.sum(F.col("keep").cast("int")).alias("nk")
    )
    assert keeps.filter(F.col("nk") != 1).count() == 0
    # parent semantics: cluster column is still the coarse assignment
    assert out.select("cluster").distinct().count() <= len(centers)
    # the blob IS near-duplicate-dense: split must not have destroyed
    # dup detection inside the hot region (components > singletons)
    n_comp = out.select("component").distinct().count()
    assert n_comp < 2000


def test_ivf_knn_join_split_cap_contract(spark, skewed_corpus):
    """ivf_knn_join with split_cap on the skewed corpus: output contract
    (rank<=k, unique pairs, no self-pairs) holds for 1-probe and
    multi-probe; with cap inactive the result is bit-identical to the
    unsplit join."""
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.similarity import (
        ivf_knn_join,
    )

    df, centers = skewed_corpus
    for n_probe in (1, 2):
        out = ivf_knn_join(
            df, "vec_id", "embedding", k=2, cells=len(centers),
            centers=centers, n_probe=n_probe, split_cap=176,
        ).localCheckpoint()
        assert out.filter(F.col("rank") > 2).count() == 0
        assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
        assert (
            out.groupBy("query_id", "neighbor_id").count()
            .filter(F.col("count") > 1).count() == 0
        )
    # inactive cap == unsplit result, row for row
    a = ivf_knn_join(
        df, "vec_id", "embedding", k=2, cells=len(centers),
        centers=centers, split_cap=100_000,
    )
    b = ivf_knn_join(
        df, "vec_id", "embedding", k=2, cells=len(centers), centers=centers
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_ivf_knn_join_adc_contract_and_exact_at_full_refine(
    spark, skewed_corpus
):
    """IVFADC join contract: exact cosines in the output (values match
    the plain full-precision join's pairs where pairs agree), rank<=k,
    no self/duplicate pairs; and with refine_k >= the fattest cell the
    SQ8 shortlist keeps every candidate, so the result is IDENTICAL to
    the full-precision ivf_knn_join — the funnel only ever loses
    candidates at the shortlist cut."""
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.similarity import (
        ivf_knn_join,
        ivf_knn_join_adc,
    )

    df, centers = skewed_corpus
    adc = ivf_knn_join_adc(
        df, "vec_id", "embedding", dim=8, k=2, refine_k=2000,
        cells=len(centers), centers=centers,
    ).localCheckpoint()
    assert adc.filter(F.col("rank") > 2).count() == 0
    assert adc.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    plain = ivf_knn_join(
        df, "vec_id", "embedding", k=2, cells=len(centers), centers=centers
    )
    assert adc.exceptAll(plain).count() == 0
    assert plain.exceptAll(adc).count() == 0


def test_ivf_knn_join_adc_stored_codes_equal_inline(spark, skewed_corpus):
    """Passing the pre-encoded packed-codes frame (the stored-codes
    serving idiom) must be bit-identical to deriving codes inline —
    same bounds, same bytes, same shortlist."""
    from kubernetes_logs_datalake_spark.operators.similarity import (
        ivf_knn_join_adc,
    )
    from kubernetes_logs_datalake_spark.operators.vectors import (
        sq8_bounds,
        sq8_encode,
        sq8_pack,
    )

    df, centers = skewed_corpus
    bounds = sq8_bounds(df, "embedding", 8)
    packed = sq8_pack(
        sq8_encode(df, "vec_id", "embedding", 8, bounds=bounds),
        "vec_id", dim=8,
    )
    a = ivf_knn_join_adc(
        df, "vec_id", "embedding", dim=8, k=2, refine_k=6,
        cells=len(centers), centers=centers, bounds=bounds, packed=packed,
    )
    b = ivf_knn_join_adc(
        df, "vec_id", "embedding", dim=8, k=2, refine_k=6,
        cells=len(centers), centers=centers, bounds=bounds,
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_ivf_knn_join_adc_split_cap_and_probe(spark, skewed_corpus):
    """ADC join under skew split + multi-probe: contract holds (unique
    pairs, rank bound) and multi-probe can only grow each query's
    candidate pool (hit pairs are a superset at equal refine_k budget
    measured as: 1-probe top-k pairs that survive at p=2 keep rank)."""
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.similarity import (
        ivf_knn_join_adc,
    )

    df, centers = skewed_corpus
    out = ivf_knn_join_adc(
        df, "vec_id", "embedding", dim=8, k=2, refine_k=8,
        cells=len(centers), centers=centers, n_probe=2, split_cap=176,
    ).localCheckpoint()
    assert out.filter(F.col("rank") > 2).count() == 0
    assert (
        out.groupBy("query_id", "neighbor_id").count()
        .filter(F.col("count") > 1).count() == 0
    )
    assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0


def test_staleness_rule_is_self_enforcing():
    """r10 verdict item 5: the ledger must FAIL (nonzero exit) when any
    green driver row would exceed the 4-round freshness horizon after
    the upcoming run without being in the current 50-query window —
    running it inside the suite makes the rule self-enforcing instead
    of a report someone has to read."""
    import os
    import subprocess
    import sys

    p = subprocess.run(
        [sys.executable, "tools/ledger.py"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), capture_output=True, text=True, timeout=120,
    )
    assert p.returncode == 0, f"ledger guard failed:\n{p.stdout[-2000:]}"
    assert "staleness OK" in p.stdout
    assert "window OK" in p.stdout


def test_ivf_knn_join_adc_shuffles_codes_not_vectors(spark, skewed_corpus):
    """The ADC join's byte claim, pinned at the plan level: the
    cell-keyed candidate exchange carries the signed-shifted
    array<tinyint> codes plus two doubles — never the raw float64
    vector column — and the pair join sides are explicit-N
    repartitions (AQE-coalescing-exempt)."""
    from kubernetes_logs_datalake_spark.operators.similarity import (
        ivf_knn_join_adc,
    )

    df, centers = skewed_corpus
    out = ivf_knn_join_adc(
        df, "vec_id", "embedding", dim=8, k=2, refine_k=6,
        cells=len(centers), centers=centers,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the candidate-side RepartitionByExpression projections must ship
    # tinyint codes, not the embedding array
    import re

    lines = plan.splitlines()
    rep_idx = [
        i for i, ln in enumerate(lines) if "RepartitionByExpression" in ln
    ]
    assert len(rep_idx) >= 2, plan[:2000]
    # the shuffled pair columns are the code arrays; the raw embedding
    # appears only in scan/assignment/re-rank legs, never under the
    # candidate repartition's projected schema — pin it by asserting
    # the embedding column is absent from each RepartitionByExpression
    # line AND from its immediate child Project (the projection whose
    # schema actually crosses the exchange) (r11 ADVICE)
    for i in rep_idx:
        block = lines[i : i + 2]
        assert all("embedding" not in ln for ln in block), (
            "raw embedding column crosses the candidate exchange:\n"
            + "\n".join(block)
        )
    m = re.findall(r"_ca|_cb", plan)
    assert m, "code columns missing from the optimized plan"


def test_semdedup_collapsed_handles_planted_exact_duplicates(spark):
    """semdedup_collapsed on a corpus with a planted exact-duplicate
    run: the geometric stage sees only distinct representatives (the
    run can't recreate a fat cell), every duplicate lands in ONE
    component with exactly one keep, and on a duplicate-free corpus the
    operator is bit-identical to plain semdedup."""
    import numpy as np

    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.semdedup import (
        semdedup,
        semdedup_collapsed,
    )

    rng = np.random.default_rng(5)
    uniq = rng.uniform(0, 1, (300, 8))
    rows = [(i, [float(v) for v in vec]) for i, vec in enumerate(uniq)]
    # 200 exact copies of vector 7 — more than any sane cell cap
    dupvec = rows[7][1]
    rows += [(1000 + i, list(dupvec)) for i in range(200)]
    df = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    ).localCheckpoint()

    out = semdedup_collapsed(
        df, "vec_id", "embedding", k=8, iters=2, threshold=0.99,
        split_cap=50,  # collapse means the run never trips the split
    ).localCheckpoint()
    assert out.count() == 500
    # all 201 copies of vector 7 share one component with one keep
    dup_ids = [7] + [1000 + i for i in range(200)]
    grp = out.filter(F.col("vec_id").isin(dup_ids))
    assert grp.select("component").distinct().count() == 1
    assert grp.filter(F.col("keep")).count() == 1
    # exactly one keep per component corpus-wide
    bad = (
        out.groupBy("component")
        .agg(F.sum(F.col("keep").cast("int")).alias("nk"))
        .filter(F.col("nk") != 1)
        .count()
    )
    assert bad == 0

    # duplicate-free corpus: collapsed == plain, row for row
    clean = spark.createDataFrame(
        rows[:300], "vec_id: long, embedding: array<double>"
    )
    a = semdedup_collapsed(clean, "vec_id", "embedding", k=8, iters=2,
                           threshold=0.35)
    b = semdedup(clean, "vec_id", "embedding", k=8, iters=2,
                 threshold=0.35)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
