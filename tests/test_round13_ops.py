"""Round-13 additions: plan-aware staleness ledger (r12 verdict task
#2), lake-FS index persistence, conf-parse propagation, and the OPQ
rotation measurement harness.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_ledger(cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "ledger.py")],
        cwd=cwd, capture_output=True, text=True, timeout=120,
    )


MAX_STALE = 4  # mirrors tools/ledger.py MAX_STALE_ROUNDS


def _copy_artifacts(d, n_synth: int) -> list[int]:
    """Copy the real CORRECTNESS history into ``d`` plus ``n_synth``
    synthetic future artifacts, each greening exactly the current
    window. Returns the full round list. The synthetic rounds start
    AFTER whatever has really landed, so the fixture is valid at any
    point of the builder/driver/judge timeline (r13 verdict task #1a:
    the old fixture hard-coded one synthetic round and broke the
    moment the driver's real artifact shifted the horizon)."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    rounds = []
    for f in sorted(os.listdir(REPO)):
        if f.startswith("CORRECTNESS_r") and f.endswith(".json"):
            rounds.append(int(f.split("_r")[1].split(".")[0]))
            shutil.copy(os.path.join(REPO, f), d / f)
    window = list(entry.queries())[:50]
    synthetic = {q: {"hash_match": True, "rows_match": True} for q in window}
    for k in range(n_synth):
        r = max(rounds) + 1
        rounds.append(r)
        (d / f"CORRECTNESS_r{r:02d}.json").write_text(json.dumps(synthetic))
    return rounds


def _breach_cohort(d, rounds) -> set[str]:
    """Replay tools/ledger.py guard 2 over the artifacts in ``d``:
    the green rows older than the horizon and outside the current
    window — exactly what a committed plan must cover."""
    import __spark_entry__ as entry

    no_oracle = set(entry._NO_ORACLE_SIBLINGS)
    last_green: dict[str, int] = {}
    for f in sorted(os.listdir(d)):
        if not (f.startswith("CORRECTNESS_r") and f.endswith(".json")):
            continue
        rnd = int(f.split("_r")[1].split(".")[0])
        for name, row in json.load(open(os.path.join(d, f))).items():
            if row.get("hash_match") or (
                name in no_oracle and row.get("rows_match")
            ):
                last_green[name] = max(last_green.get(name, 0), rnd)
    window = set(list(entry.queries())[:50])
    horizon = (max(rounds) + 1) - MAX_STALE
    registered = set(entry._all_queries())
    return {
        q for q, g in last_green.items()
        if g < horizon and q not in window and q in registered
    }


@pytest.fixture(params=[0, 1, 4], ids=["not_yet", "artifact_landed",
                                       "deep_future"])
def judged_dir(tmp_path, request):
    """A cwd simulating three timeline states (r13 verdict task #1a —
    hermetic over artifact timing): the builder's own state (no
    synthetic artifact), judge time (one synthetic round greening the
    window), and a deep future (four synthetic rounds — enough that
    EVERY green row outside the 50-slot window breaches, since the
    registry is larger than the window). Yields (dir, rounds)."""
    d = tmp_path / "judged"
    d.mkdir()
    rounds = _copy_artifacts(d, request.param)
    return d, rounds


def test_ledger_green_with_covering_plan(judged_dir):
    """Ledger MECHANICS, hermetic to repo vintage: whatever cohort
    breaches in the simulated state, a synthetic plan covering exactly
    that cohort keeps the ledger green — at builder time, judge time,
    and any number of artifact landings later. (The old version copied
    the repo's real NEXT_WINDOW.json, re-creating the artifact-timing
    dependency one level up — the r13 judge-time red.)"""
    d, rounds = judged_dir
    cohort = _breach_cohort(d, rounds)
    plan = {"plans": {str(max(rounds) + 1): {
        "must_include": sorted(cohort)}}}
    (d / "NEXT_WINDOW.json").write_text(json.dumps(plan))
    p = _run_ledger(str(d))
    assert p.returncode == 0, p.stdout[-2000:]
    assert "plan-covered" in p.stdout or "staleness OK" in p.stdout


def test_real_repo_state_survives_artifact_landing(judged_dir):
    """The REPO-STATE guarantee (not just mechanics): the committed
    NEXT_WINDOW.json keeps the ledger green in the builder state AND
    at judge time. The deep-future state is excluded: it simulates
    rounds whose windows the protocol says would have rotated — a
    frozen repo is not expected to survive unboundedly many landings,
    only the one round the judge actually ages it by (plus one more,
    covered by the rolling two-round plan horizon)."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    d, rounds = judged_dir
    synth = [
        r for r in rounds
        if not os.path.exists(os.path.join(REPO, f"CORRECTNESS_r{r:02d}.json"))
    ]
    if any(r > entry._WINDOW_ROUND for r in synth):
        # the protocol rotates the window before any artifact PAST the
        # window round can land — a frozen repo plus such an artifact
        # is a state the rolling plan never has to cover
        pytest.skip("simulated artifact beyond the window round means "
                    "an un-rotated future — not a protocol state")
    shutil.copy(os.path.join(REPO, "NEXT_WINDOW.json"),
                d / "NEXT_WINDOW.json")
    p = _run_ledger(str(d))
    assert p.returncode == 0, p.stdout[-2000:]


@pytest.fixture()
def breached_dir(tmp_path):
    """Deep-future state with a GUARANTEED non-empty breach cohort:
    four synthetic rounds green only the 50-row window, so every other
    green row (registry 226 > 50) ages past the horizon regardless of
    when the last real artifact landed."""
    d = tmp_path / "breached"
    d.mkdir()
    rounds = _copy_artifacts(d, MAX_STALE)
    cohort = _breach_cohort(d, rounds)
    assert cohort, "fixture broken: registry <= window?"
    return d, rounds, cohort


def test_ledger_red_without_plan(breached_dir):
    """Without a committed plan a breaching state must stay red — the
    forcing function is not weakened, only made satisfiable by an
    explicit commitment."""
    d, _, _ = breached_dir
    p = _run_ledger(str(d))
    assert p.returncode == 1, p.stdout[-2000:]
    assert "STALENESS BREACH" in p.stdout


def test_ledger_red_when_plan_does_not_cover_breach(breached_dir):
    """A plan that names the right round but omits a breaching row
    must NOT excuse the breach."""
    d, rounds, cohort = breached_dir
    plan = {"plans": {str(max(rounds) + 1): {
        "must_include": sorted(cohort)[:-1]}}}
    (d / "NEXT_WINDOW.json").write_text(json.dumps(plan))
    p = _run_ledger(str(d))
    assert p.returncode == 1, p.stdout[-2000:]
    assert "not covered by a committed NEXT_WINDOW plan" in p.stdout


def test_ledger_red_when_window_breaks_its_own_plan(tmp_path):
    """Guard 3: a window that omits rows its committed plan promised
    is an unimplemented plan — red at planning time, so a plan can
    never excuse a breach it has no intention of fixing."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    d = tmp_path / "plan_break"
    d.mkdir()
    for f in sorted(os.listdir(REPO)):
        if f.startswith("CORRECTNESS_r") and f.endswith(".json"):
            shutil.copy(os.path.join(REPO, f), d / f)
    wr = entry._WINDOW_ROUND
    bogus = {"plans": {str(wr): {
        "must_include": ["a_query_the_window_cannot_contain"]}}}
    (d / "NEXT_WINDOW.json").write_text(json.dumps(bogus))
    p = _run_ledger(str(d))
    assert p.returncode == 1, p.stdout[-2000:]
    assert "PLAN NOT IMPLEMENTED" in p.stdout


def test_length_bins_uses_robust_partition_parse(spark, monkeypatch):
    """r12 verdict task #4: length_bins (and zorder_write) must derive
    their partition count through session.shuffle_partitions() — the
    "auto"-robust parse — not a raw int(conf.get(...)). Pinned by
    routing the helper through a recorder and checking both the call
    and the unchanged output."""
    from kubernetes_logs_datalake_spark import session as sess
    from kubernetes_logs_datalake_spark.operators.sampling import (
        length_bins,
    )

    docs = spark.createDataFrame(
        [(i, "tok " * (1 + i % 7)) for i in range(40)], "doc_id int, text string"
    )
    baseline = sorted(
        tuple(r) for r in length_bins(docs, "doc_id", "text").collect()
    )

    calls = []
    real = sess.shuffle_partitions

    def recorder(s):
        calls.append(True)
        return real(s)

    monkeypatch.setattr(sess, "shuffle_partitions", recorder)
    got = sorted(
        tuple(r) for r in length_bins(docs, "doc_id", "text").collect()
    )
    assert calls, "length_bins bypassed session.shuffle_partitions()"
    assert got == baseline

    # the repo-wide invariant: no raw int() parse of the conf outside
    # the helper itself (grep-equivalent, kept in-suite so it cannot
    # regress silently)
    import subprocess

    p = subprocess.run(
        ["grep", "-rn",
         r'int(.*conf.get("spark.sql.shuffle.partitions"',
         os.path.join(REPO, "kubernetes_logs_datalake_spark"),
         os.path.join(REPO, "__spark_entry__.py")],
        capture_output=True, text=True,
    )
    offenders = [
        ln for ln in p.stdout.splitlines() if "session.py" not in ln
    ]
    assert not offenders, offenders


def test_ivf_sq8_topk_refuses_assigned_df_without_centers(spark):
    """r12 ADVICE: assigned_df without the codebook that produced its
    labels is the mismatched-codebook hazard — refitting from df would
    probe arbitrary cells silently. Must refuse loudly."""
    from kubernetes_logs_datalake_spark.operators.vectors import (
        ivf_sq8_topk, kmeans_assign, kmeans_fit,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)]) for i in range(1, 40)],
        "vec_id int, embedding array<double>",
    )
    centers, _ = kmeans_fit(df, "vec_id", "embedding", k=3, iters=2)
    assigned = kmeans_assign(df, "vec_id", "embedding", centers)
    with pytest.raises(ValueError, match="centers"):
        ivf_sq8_topk(
            df, "vec_id", "embedding", [1.0, 2.0], dim=2,
            assigned_df=assigned,
        )


def test_sq8_cell_score_raises_on_uncovered_cluster(spark):
    """r12 ADVICE: a bounds_df missing a cluster must ERROR, not
    silently drop that cluster's rows from the top-k (the
    recall-shrinking stale/foreign-bounds hazard). Covered clusters
    keep bit-identical scores through the left-join rewrite."""
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.vectors import (
        kmeans_assign, kmeans_fit, sq8_cell_bounds, sq8_cell_topk,
    )

    df = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(1, 60)],
        "vec_id int, embedding array<double>",
    )
    centers, _ = kmeans_fit(df, "vec_id", "embedding", k=4, iters=2)
    assigned = kmeans_assign(df, "vec_id", "embedding", centers)
    bounds = sq8_cell_bounds(assigned, "embedding", 2)
    q = [1.0, 1.0]

    full = sq8_cell_topk(
        df, "vec_id", "embedding", q, dim=2, topk=5,
        centers=centers, bounds_df=bounds,
    ).collect()
    assert len(full) == 5

    # drop one cluster's bounds row -> the serve must raise, not shrink
    present = sorted(r["cluster"] for r in bounds.select("cluster").collect())
    broken = bounds.filter(F.col("cluster") != present[0])
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="bounds_df does not cover") as ei:
        sq8_cell_topk(
            df, "vec_id", "embedding", q, dim=2, topk=5,
            centers=centers, bounds_df=broken,
        ).collect()
    assert isinstance(ei.value, Py4JJavaError) or "bounds_df" in str(ei.value)


def test_imi_split_cap_inactive_on_fixtures(spark):
    """r12 ADVICE: embedding_imi_knn_join's oracle joins raw (j1, j2)
    with NO split replay, so hash parity rests on the split cap staying
    inactive. Pin that precondition on every hash-checked fixture: the
    max product-cell size must stay <= _imi_split_cap(n, k1). If a
    regenerated corpus concentrates a product cell, THIS fails with the
    histogram before the driver's opaque hash mismatch does."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from kubernetes_logs_datalake_spark.operators.similarity import (
        _imi_assign,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = entry._t(spark, sf, "embeddings").filter(F.col("vec_id") != 0)
        n = entry._emb_count_cached(emb, sf, "nz")
        k1, fit_mod = entry._cbrt_cells(n)
        c1, c2 = entry._imi_centers_cached(
            emb, sf, k1, iters=3, fit_sample_mod=fit_mod
        )
        cap = entry._imi_split_cap(n, k1)
        sizes = (
            _imi_assign(emb, "vec_id", "embedding", c1, c2,
                        entry.EMBEDDING_DIM)
            .groupBy("j1", "j2").count()
            .orderBy(F.desc("count")).limit(5).collect()
        )
        mx = sizes[0]["count"]
        assert mx <= cap, (
            f"{sf}: max product cell {mx} > cap {cap} — the split cap "
            f"would activate and the raw-(j1,j2) oracle would diverge; "
            f"top cells: {[tuple(r) for r in sizes]}"
        )


@pytest.fixture()
def small_embed_corpus(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n = 8, 120
    vecs = rng.normal(0.0, 1.0, (n, dim))
    df = spark.createDataFrame(
        [(i + 1, [float(v) for v in vec]) for i, vec in enumerate(vecs)],
        "vec_id: long, embedding: array<double>",
    )
    query = [float(v) for v in rng.normal(0.0, 1.0, dim)]
    return df.localCheckpoint(), query, dim


def test_ivf_sq8_index_lifecycle_on_hadoop_file_scheme(
    spark, small_embed_corpus, tmp_path
):
    """r12 verdict item 3 (weak flag): the stored-index manifest must
    travel the Hadoop FileSystem seam, not driver-POSIX os/open() — on
    an s3://
    lake POSIX calls misroute the manifest to the driver's local disk
    while the parquet halves go remote, tearing the build the manifest
    protocol exists to prevent. Proven here by running the whole
    lifecycle against a ``file:``-scheme URI (os.path.* returns False
    on such strings, so any surviving POSIX call would break), then
    checking the manifest landed on the SAME filesystem as the cells."""
    from kubernetes_logs_datalake_spark.operators.vectors import (
        ivf_sq8_index_build, ivf_sq8_index_search, ivf_sq8_topk,
        kmeans_fit,
    )

    df, query, dim = small_embed_corpus
    centers, _ = kmeans_fit(df, "vec_id", "embedding", k=4, iters=2)
    local = str(tmp_path / "ivfsq8_uri")
    idx = "file:" + local
    assert not os.path.exists(idx)  # the URI string is not a POSIX path

    built = ivf_sq8_index_build(
        df, "vec_id", "embedding", idx, dim=dim, centers=centers
    )
    assert built == centers
    # same-FS check: manifest and cells are siblings under the one
    # local materialization of the file:-scheme root
    assert os.path.exists(os.path.join(local, "manifest.json"))
    assert os.path.isdir(os.path.join(local, "cells"))

    for p in (1, 4):
        served = ivf_sq8_index_search(spark, idx, query, topk=5, n_probe=p)
        inline = ivf_sq8_topk(
            df, "vec_id", "embedding", query, dim=dim, topk=5,
            n_probe=p, centers=centers,
        )
        assert [tuple(r) for r in served.collect()] == [
            tuple(r) for r in inline.collect()
        ], p

    # rebuild over the same URI must invalidate-then-rename (no stale
    # manifest pairing with new cells) and still serve identically
    built2 = ivf_sq8_index_build(
        df, "vec_id", "embedding", idx, dim=dim, centers=centers
    )
    assert built2 == centers
    assert os.path.exists(os.path.join(local, "manifest.json"))

    # torn build: removing the manifest through the SAME seam must make
    # serving refuse loudly
    os.remove(os.path.join(local, "manifest.json"))
    with pytest.raises(FileNotFoundError, match="torn|manifest"):
        ivf_sq8_index_search(spark, idx, query)


def test_pq_index_lifecycle_on_hadoop_file_scheme(
    spark, small_embed_corpus, tmp_path
):
    """Same seam contract for the PQ stored index: build + serve over
    a ``file:``-scheme URI, manifest on the same FS as the codes, torn
    build refuses."""
    from kubernetes_logs_datalake_spark.operators.vectors import (
        pq_adc_topk, pq_index_build, pq_index_search,
    )

    df, query, dim = small_embed_corpus
    local = str(tmp_path / "pq_uri")
    idx = "file:" + local
    books = pq_index_build(
        df, "vec_id", "embedding", idx, dim=dim, m=4, k=8, iters=2
    )
    assert os.path.exists(os.path.join(local, "codebooks.json"))
    assert os.path.isdir(os.path.join(local, "codes"))

    served = [
        tuple(r) for r in pq_index_search(spark, idx, query, topk=5).collect()
    ]
    inline = [
        tuple(r) for r in pq_adc_topk(
            df, "vec_id", "embedding", query, dim=dim, m=4, k=8,
            iters=2, topk=5, codebooks=books,
        ).collect()
    ]
    assert served == inline

    os.remove(os.path.join(local, "codebooks.json"))
    with pytest.raises(FileNotFoundError, match="torn|manifest"):
        pq_index_search(spark, idx, query)


def test_pca_rotation_is_orthonormal_deterministic_and_balanced(spark):
    """The OPQ-style rotation contract: R is orthonormal (preserves
    the ANN metric exactly in exact arithmetic), bit-deterministic
    across fits, and eigenvalue-BALANCED across the two half-spaces —
    raw PCA order would concentrate variance in the first half and
    make the IMI half-correlation worse, not better."""
    import numpy as np

    from kubernetes_logs_datalake_spark.operators.rotation import (
        fit_pca_rotation,
    )

    rng = np.random.default_rng(3)
    # anisotropic corpus: variance concentrated on a few raw axes
    dim, n = 8, 400
    scales = np.array([8.0, 5.0, 3.0, 2.0, 1.0, 0.5, 0.25, 0.1])
    vecs = rng.normal(0.0, 1.0, (n, dim)) * scales
    df = spark.createDataFrame(
        [(i + 1, [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id: long, embedding: array<double>",
    ).localCheckpoint()

    R1 = np.asarray(fit_pca_rotation(df, "vec_id", "embedding", dim))
    R2 = np.asarray(fit_pca_rotation(df, "vec_id", "embedding", dim))
    assert np.array_equal(R1, R2), "fit is not deterministic"
    assert np.allclose(R1 @ R1.T, np.eye(dim), atol=1e-9), "not orthonormal"

    # balanced halves: the variance of the rotated sample must split
    # comparably between the first and second half of the output dims
    rot = vecs @ R1.T
    v1 = float(rot[:, : dim // 2].var(axis=0).sum())
    v2 = float(rot[:, dim // 2 :].var(axis=0).sum())
    ratio = max(v1, v2) / min(v1, v2)
    # raw PCA order on this corpus would give ratio ~20; balanced
    # allocation must keep the halves within a small factor
    assert ratio < 2.0, (v1, v2)


def test_rotation_preserves_dot_products_and_roundtrips(spark):
    """v'·q' == v·q (orthonormality) to float tolerance — the property
    that makes the rotation metric-free for every ANN consumer — and
    rotate_vectors matches the numpy reference while preserving the
    other columns."""
    import numpy as np

    from kubernetes_logs_datalake_spark.operators.rotation import (
        random_rotation, rotate_vectors,
    )

    rng = np.random.default_rng(5)
    dim, n = 6, 50
    vecs = rng.normal(0.0, 2.0, (n, dim))
    df = spark.createDataFrame(
        [
            (i + 1, f"tag{i % 3}", [float(v) for v in row])
            for i, row in enumerate(vecs)
        ],
        "vec_id: long, tag: string, embedding: array<double>",
    )
    R = random_rotation(dim, seed=11)
    Rm = np.asarray(R)
    assert np.allclose(Rm @ Rm.T, np.eye(dim), atol=1e-12)
    assert random_rotation(dim, seed=11) == R  # seeded determinism

    out = rotate_vectors(df, "embedding", R).orderBy("vec_id").collect()
    want = vecs @ Rm.T
    got = np.asarray([r["embedding"] for r in out])
    assert np.allclose(got, want, atol=1e-12)
    assert [r["tag"] for r in out] == [f"tag{i % 3}" for i in range(n)]

    q = rng.normal(0.0, 1.0, dim)
    qr = Rm @ q
    assert np.allclose(got @ qr, vecs @ q, atol=1e-9)


def test_sq8_cell_refine_recovers_exact_topk(spark):
    """The funnel contract on the corpus where per-cell bounds DON'T
    pay: with enough candidates the exact re-rank must recover the
    full-precision cosine top-k exactly (recall becomes the candidate
    stage's recall@n_candidates), and recall must be monotone in
    n_candidates. r14-QUEUED registry row (ann_topk_sq8_cell_refined);
    operator pinned now, registration when the window has slots."""
    import numpy as np

    from kubernetes_logs_datalake_spark.operators.vectors import (
        kmeans_fit, sq8_cell_refine_topk,
    )

    rng = np.random.default_rng(21)
    dim, n = 8, 240
    # overlapping clouds: within-cloud margins comparable to cloud
    # width, the low-effective-bits regime where plain SQ8 misranks
    comps = rng.normal(0.0, 1.0, (4, dim))
    vecs = np.vstack([
        c + rng.normal(0.0, 0.6, (n // 4, dim)) for c in comps
    ])
    df = spark.createDataFrame(
        [(i + 1, [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id: long, embedding: array<double>",
    ).localCheckpoint()
    query = [float(v) for v in comps[1] + rng.normal(0.0, 0.3, dim)]

    qn = np.asarray(query)
    cosines = (vecs @ qn) / (
        np.linalg.norm(vecs, axis=1) * np.linalg.norm(qn)
    )
    exact10 = [int(i) + 1 for i in np.argsort(-cosines)[:10]]

    centers, _ = kmeans_fit(df, "vec_id", "embedding", k=4, iters=3)
    recalls = []
    for nc in (10, 60, n):
        got = [
            r["vec_id"]
            for r in sq8_cell_refine_topk(
                df, "vec_id", "embedding", query, dim=8, topk=10,
                n_candidates=nc, centers=centers, cells=4,
            ).collect()
        ]
        recalls.append(len(set(got) & set(exact10)) / 10)
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0, recalls  # full-candidate = exact
    # and the probed variant composes without error, exact at full probe
    got = [
        r["vec_id"]
        for r in sq8_cell_refine_topk(
            df, "vec_id", "embedding", query, dim=8, topk=10,
            n_candidates=n, n_probe=4, centers=centers, cells=4,
        ).collect()
    ]
    assert got == exact10


def test_ivf_sq8_index_stores_and_applies_rotation(
    spark, small_embed_corpus, tmp_path
):
    """The OPQ pre-transform as a build-once index artifact: building
    with `rotation=R` rotates the corpus before fit/assignment and
    persists R in the manifest; serving rotates only the QUERY
    driver-side. Contract: served output is bit-identical to the
    in-memory probed path over the explicitly-rotated corpus with the
    explicitly-rotated query, at every probe width."""
    import numpy as np

    from kubernetes_logs_datalake_spark.operators.rotation import (
        fit_pca_rotation, rotate_vectors,
    )
    from kubernetes_logs_datalake_spark.operators.vectors import (
        ivf_sq8_index_build, ivf_sq8_index_search, ivf_sq8_topk,
    )

    df, query, dim = small_embed_corpus
    R = fit_pca_rotation(df, "vec_id", "embedding", dim, subspaces=2)
    idx = str(tmp_path / "ivfsq8_rot")
    centers = ivf_sq8_index_build(
        df, "vec_id", "embedding", idx, dim=dim, cells=4, rotation=R
    )

    import json as js

    manifest = js.load(open(os.path.join(idx, "manifest.json")))
    assert manifest["rotation"] == R

    rotated = rotate_vectors(df, "embedding", R).localCheckpoint()
    Rm = np.asarray(R)
    q_rot = [float(v) for v in Rm @ np.asarray(query)]
    for p in (1, 4):
        served = ivf_sq8_index_search(spark, idx, query, topk=5, n_probe=p)
        inline = ivf_sq8_topk(
            rotated, "vec_id", "embedding", q_rot, dim=dim, topk=5,
            n_probe=p, centers=centers,
        )
        assert [tuple(r) for r in served.collect()] == [
            tuple(r) for r in inline.collect()
        ], p


def _duckdb_on(sf: str, sql: str):
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf}/{t}.parquet')"
            )
        except Exception:
            pass
    return con.execute(sql).fetchall()


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
def test_r14_queued_sq8_cell_refined_oracle_parity(spark, sf):
    """The r14-queued ann_topk_sq8_cell_refined query and its oracle
    agree TODAY on both hash-checked fixtures — registration at r14 is
    the two dict lines (the r12->r13 queued-row pattern)."""
    import __spark_entry__ as entry

    got = [
        (int(r[0]), float(r[1]))
        for r in entry._ann_topk_sq8_cell_refined(spark, sf).collect()
    ]
    want = [
        (int(a), float(b))
        for a, b in _duckdb_on(sf, entry._ddb_sq8_cell_refined_sql())
    ]
    assert got == want


def test_ivf_sq8_index_append_serves_identically_to_rebuild(
    spark, small_embed_corpus, tmp_path
):
    """Build-once/append-many: after appending a batch assigned with
    the frozen codebook, serving must be bit-identical to the inline
    probed path over the UNION corpus with the same centers (touched
    cells re-bound, untouched cells' bounds verbatim — equal either
    way because bounds are pure min/max of their rows). The verifier
    passes after the append and catches a bounds hole."""
    import numpy as np
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.vectors import (
        ivf_sq8_index_append, ivf_sq8_index_build, ivf_sq8_index_search,
        ivf_sq8_index_verify, ivf_sq8_topk, kmeans_fit,
    )

    df, query, dim = small_embed_corpus
    base = df.filter(F.col("vec_id") <= 90).localCheckpoint()
    batch = df.filter(F.col("vec_id") > 90).localCheckpoint()
    centers, _ = kmeans_fit(base, "vec_id", "embedding", k=4, iters=2)
    idx = str(tmp_path / "ivfsq8_app")
    ivf_sq8_index_build(
        base, "vec_id", "embedding", idx, dim=dim, centers=centers
    )

    n = ivf_sq8_index_append(batch, idx)
    assert n == batch.count()
    rep = ivf_sq8_index_verify(spark, idx)
    assert rep["ok"] and rep["n_rows"] == df.count(), rep

    for p in (1, 4):
        served = ivf_sq8_index_search(spark, idx, query, topk=7, n_probe=p)
        inline = ivf_sq8_topk(
            df, "vec_id", "embedding", query, dim=dim, topk=7,
            n_probe=p, centers=centers,
        )
        assert [tuple(r) for r in served.collect()] == [
            tuple(r) for r in inline.collect()
        ], p

    # empty append is a no-op that leaves the index serving
    assert ivf_sq8_index_append(batch.filter(F.lit(False)), idx) == 0
    assert ivf_sq8_index_verify(spark, idx)["ok"]

    # verifier catches a bounds hole (the uncovered-cluster hazard the
    # scorer raises on at query time)
    bounds_path = os.path.join(idx, "bounds")
    b = spark.read.parquet(bounds_path)
    some = int(b.select("cluster").first()["cluster"])
    b.filter(F.col("cluster") != some).localCheckpoint(
        eager=True
    ).write.mode("overwrite").parquet(bounds_path)
    rep = ivf_sq8_index_verify(spark, idx)
    # the hole is visible only if that cluster holds rows; it does by
    # construction (bounds rows exist only for non-empty cells)
    assert not rep["ok"] and some in rep["uncovered"], rep


def test_pq_index_append_serves_identically_to_rebuild(
    spark, small_embed_corpus, tmp_path
):
    """Frozen-codebook append for the PQ index: encode-only append,
    served ADC results bit-identical to a full rebuild with the same
    codebooks; torn mid-append (no manifest) refuses."""
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.vectors import (
        pq_index_append, pq_index_build, pq_index_search,
    )

    df, query, dim = small_embed_corpus
    base = df.filter(F.col("vec_id") <= 90).localCheckpoint()
    batch = df.filter(F.col("vec_id") > 90).localCheckpoint()
    a = str(tmp_path / "pq_a")
    b = str(tmp_path / "pq_b")
    books = pq_index_build(
        base, "vec_id", "embedding", a, dim=dim, m=4, k=8, iters=2
    )
    assert pq_index_append(batch, a) == batch.count()

    # rebuild over the union with the SAME codebooks: encode via
    # build on base (fits the same books deterministically) is not
    # enough — build on the union would refit; so encode+write through
    # a second build seeded by the same base fit via pq_encode
    from kubernetes_logs_datalake_spark.operators.vectors import pq_encode

    codes_b = pq_encode(
        df, "vec_id", "embedding", dim, 4, 8, iters=0, codebooks=books
    )
    import json as js

    os.makedirs(b, exist_ok=True)
    codes_b.write.mode("overwrite").parquet(f"{b}/codes")
    with open(f"{b}/codebooks.json", "w") as fh:
        js.dump({"dim": dim, "m": 4, "k": 8, "scale": 6,
                 "id_col": "vec_id", "vec_col": "embedding",
                 "codebooks": books}, fh)

    sa = [tuple(r) for r in pq_index_search(spark, a, query, topk=7).collect()]
    sb = [tuple(r) for r in pq_index_search(spark, b, query, topk=7).collect()]
    assert sa == sb

    # empty append: no-op
    assert pq_index_append(batch.filter(F.lit(False)), a) == 0

    os.remove(os.path.join(a, "codebooks.json"))
    with pytest.raises(FileNotFoundError, match="torn|manifest"):
        pq_index_append(batch, a)


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
def test_r14_queued_ivf_sq8_served_parity(spark, sf):
    """The r14-queued ann_topk_ivf_sq8_served (stored-index serve) is
    bit-identical to the registered inline row and matches the shared
    oracle on both hash-checked fixtures — registration at r14 is the
    two dict lines."""
    import __spark_entry__ as entry

    served = [
        (int(r[0]), float(r[1]))
        for r in entry._ann_topk_ivf_sq8_served(spark, sf).collect()
    ]
    inline = [
        (int(r[0]), float(r[1]))
        for r in entry._ann_topk_ivf_sq8(spark, sf).collect()
    ]
    assert served == inline
    want = [
        (int(a), float(b))
        for a, b in _duckdb_on(sf, entry._ddb_ivf_sq8_sql())
    ]
    assert served == want


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01"])
def test_r14_queued_rotated_topk_oracle_parity(spark, sf):
    """The r14-queued ann_topk_rotated matches its oracle (the SQL
    replays the identical literal R with the same fold order) AND, by
    orthonormal metric preservation, returns the same ids as the
    raw-space exact top-k."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from kubernetes_logs_datalake_spark.functions.vectors import (
        cosine, literal_vector,
    )

    got = [
        (int(r[0]), float(r[1]))
        for r in entry._ann_topk_rotated(spark, sf).collect()
    ]
    want = [
        (int(a), float(b))
        for a, b in _duckdb_on(sf, entry._ddb_rotated_topk_sql(sf_dir=sf))
    ]
    assert got == want

    emb = entry._t(spark, sf, "embeddings").filter(F.col("vec_id") != 0)
    q = literal_vector([float(x) for x in entry._query_vec(spark, sf)])
    raw_ids = [
        int(r[0])
        for r in emb.select(
            "vec_id", F.round(cosine("embedding", q), 4).alias("cos")
        ).orderBy(F.desc("cos"), "vec_id").limit(10).collect()
    ]
    assert [i for i, _ in got] == raw_ids


def test_ivf_sq8_index_drift_monitor(spark, small_embed_corpus, tmp_path):
    """The rebuild trigger: an in-distribution batch reads
    drift_ratio ~1, a shifted batch reads far above it — and the
    stored-side baseline uses the O(dim) own-centroid distance that
    must agree with kmeans_assign's dist on identical rows (same
    formula, same rounding)."""
    import numpy as np
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.vectors import (
        ivf_sq8_index_build, ivf_sq8_index_drift, kmeans_fit,
    )

    df, query, dim = small_embed_corpus
    centers, _ = kmeans_fit(df, "vec_id", "embedding", k=4, iters=2)
    idx = str(tmp_path / "ivfsq8_drift")
    ivf_sq8_index_build(
        df, "vec_id", "embedding", idx, dim=dim, centers=centers
    )

    # in-distribution: a subset of the corpus itself
    same = ivf_sq8_index_drift(df.filter(F.col("vec_id") % 3 == 0), idx)
    assert same["n_batch"] > 0
    assert 0.5 <= same["drift_ratio"] <= 1.5, same

    # out-of-distribution: far-away cloud
    rng = np.random.default_rng(33)
    far = spark.createDataFrame(
        [
            (1000 + i, [float(v) for v in rng.normal(40.0, 1.0, dim)])
            for i in range(30)
        ],
        "vec_id: long, embedding: array<double>",
    )
    shifted = ivf_sq8_index_drift(far, idx)
    assert shifted["drift_ratio"] > 3.0, shifted

    # baseline distance formula agrees with kmeans_assign on the same
    # rows: full-batch drift of the corpus against itself is exactly 1
    full = ivf_sq8_index_drift(df, idx)
    assert abs(full["drift_ratio"] - 1.0) < 1e-9, full
    assert full["batch_p95"] == full["base_p95"]


def test_streaming_ann_ingest_appends_epochs_into_stored_index(
    spark, small_embed_corpus, tmp_path
):
    """The lake-scale ANN ingestion loop: a vector stream lands in the
    stored index via frozen-codebook appends, one epoch per arriving
    file; after draining, serving is bit-identical to the inline
    probed path over the union corpus and the verifier is green."""
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.vectors import (
        ivf_sq8_index_build, ivf_sq8_index_search, ivf_sq8_index_verify,
        ivf_sq8_topk, kmeans_fit,
    )
    from kubernetes_logs_datalake_spark.streaming.ann_ingest import (
        AnnIngestJob,
    )

    df, query, dim = small_embed_corpus
    base = df.filter(F.col("vec_id") <= 60).localCheckpoint()
    b1 = df.filter((F.col("vec_id") > 60) & (F.col("vec_id") <= 90))
    b2 = df.filter(F.col("vec_id") > 90)
    centers, _ = kmeans_fit(base, "vec_id", "embedding", k=4, iters=2)
    idx = str(tmp_path / "ann_stream_idx")
    ivf_sq8_index_build(
        base, "vec_id", "embedding", idx, dim=dim, centers=centers
    )

    inbox = str(tmp_path / "inbox")
    b1.coalesce(1).write.mode("append").parquet(inbox)
    source = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(inbox)
    )
    job = AnnIngestJob(
        index_dir=idx, checkpoint=str(tmp_path / "ckpt"),
        trigger_seconds=1,
    )
    job.start(spark, source)
    try:
        job.process_available()
        # second epoch: a later file arrival
        b2.coalesce(1).write.mode("append").parquet(inbox)
        job.process_available()
    finally:
        job.stop_gracefully()

    rep = ivf_sq8_index_verify(spark, idx)
    assert rep["ok"] and rep["n_rows"] == df.count(), rep
    for p in (1, 4):
        served = ivf_sq8_index_search(spark, idx, query, topk=7, n_probe=p)
        inline = ivf_sq8_topk(
            df, "vec_id", "embedding", query, dim=dim, topk=7,
            n_probe=p, centers=centers,
        )
        assert [tuple(r) for r in served.collect()] == [
            tuple(r) for r in inline.collect()
        ], p


def test_ivf_sq8_index_append_replay_is_idempotent_with_guard(
    spark, small_embed_corpus, tmp_path
):
    """The at-least-once answer: replaying the SAME batch with
    skip_existing_ids=True appends 0 and leaves serving unchanged;
    without the guard the replay duplicates rows (the documented
    default for exactly-once upstreams)."""
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.vectors import (
        ivf_sq8_index_append, ivf_sq8_index_build, ivf_sq8_index_verify,
        kmeans_fit,
    )

    df, query, dim = small_embed_corpus
    base = df.filter(F.col("vec_id") <= 90).localCheckpoint()
    batch = df.filter(F.col("vec_id") > 90).localCheckpoint()
    centers, _ = kmeans_fit(base, "vec_id", "embedding", k=4, iters=2)
    idx = str(tmp_path / "ivfsq8_replay")
    ivf_sq8_index_build(
        base, "vec_id", "embedding", idx, dim=dim, centers=centers
    )

    assert ivf_sq8_index_append(
        batch, idx, skip_existing_ids=True
    ) == batch.count()
    # replay: guard sees every id already stored -> 0 appended
    assert ivf_sq8_index_append(batch, idx, skip_existing_ids=True) == 0
    assert ivf_sq8_index_verify(spark, idx)["n_rows"] == df.count()

    # partial replay: 5 already-stored ids + 5 genuinely new ids —
    # the guard appends only the new half
    fresh = batch.select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    mixed = batch.limit(5).unionByName(fresh.limit(5))
    n = ivf_sq8_index_append(mixed, idx, skip_existing_ids=True)
    assert n == 5, n

    # without the guard, a replay duplicates (the documented trade)
    n_dup = ivf_sq8_index_append(batch.limit(3), idx)
    assert n_dup == 3
    rep = ivf_sq8_index_verify(spark, idx)
    assert rep["n_rows"] == df.count() + 5 + 3


def test_ivf_sq8_index_compact_rewrites_only_crowded_cells(
    spark, small_embed_corpus, tmp_path
):
    """After repeated appends the crowded cells compact down to one
    file each, quiet cells keep their files untouched, and serving is
    bit-identical before/after (content never moves, only layout)."""
    import glob as globmod

    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.vectors import (
        ivf_sq8_index_append, ivf_sq8_index_build, ivf_sq8_index_compact,
        ivf_sq8_index_search, ivf_sq8_index_verify, kmeans_fit,
    )

    df, query, dim = small_embed_corpus
    base = df.filter(F.col("vec_id") <= 60).localCheckpoint()
    centers, _ = kmeans_fit(base, "vec_id", "embedding", k=4, iters=2)
    idx = str(tmp_path / "ivfsq8_cmp")
    ivf_sq8_index_build(
        base, "vec_id", "embedding", idx, dim=dim, centers=centers
    )
    for lo, hi in ((60, 80), (80, 100), (100, 120)):
        ivf_sq8_index_append(
            df.filter((F.col("vec_id") > lo) & (F.col("vec_id") <= hi)),
            idx,
        )

    before = [
        tuple(r) for r in ivf_sq8_index_search(
            spark, idx, query, topk=7, n_probe=4
        ).collect()
    ]
    n_files = len(globmod.glob(f"{idx}/cells/cluster=*/part-*"))
    rep = ivf_sq8_index_compact(spark, idx, max_files_per_cell=1)
    assert rep["compacted_cells"] > 0, rep
    assert rep["files_before"] == n_files
    assert rep["files_after"] < rep["files_before"], rep

    after = [
        tuple(r) for r in ivf_sq8_index_search(
            spark, idx, query, topk=7, n_probe=4
        ).collect()
    ]
    assert after == before
    assert ivf_sq8_index_verify(spark, idx)["ok"]

    # already-compacted: a second pass is a no-op that leaves the
    # manifest in place
    rep2 = ivf_sq8_index_compact(spark, idx, max_files_per_cell=1)
    assert rep2["compacted_cells"] == 0
    assert ivf_sq8_index_verify(spark, idx)["ok"]


def test_imi_join_over_rotated_corpus_preserves_the_metric(spark):
    """The r13 rotation A/B showed the PCA-balanced rotation repairs
    IMI's product-cell occupancy on clustered corpora; this pins the
    CORRECTNESS half of that composition: the IMI join run entirely in
    rotated space reports, for every (query, neighbor) pair it emits,
    a cosine equal to the raw-space cosine of the same ids (orthonormal
    metric preservation through the half-split, the two Lloyd fits,
    the product-cell pair stage and the rank window), and emits full
    rank<=k rows per query with no self-pairs."""
    import numpy as np
    from pyspark.sql import functions as F

    from kubernetes_logs_datalake_spark.operators.rotation import (
        fit_pca_rotation, rotate_vectors,
    )
    from kubernetes_logs_datalake_spark.operators.similarity import (
        imi_knn_join,
    )

    rng = np.random.default_rng(17)
    dim, n = 8, 120
    comps = rng.uniform(-4.0, 4.0, (4, dim))
    vecs = np.vstack([
        c + rng.normal(0.0, 0.4, (n // 4, dim)) for c in comps
    ])
    df = spark.createDataFrame(
        [(i + 1, [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id: long, embedding: array<double>",
    ).localCheckpoint()

    R = fit_pca_rotation(df, "vec_id", "embedding", dim, subspaces=2)
    rot = rotate_vectors(df, "embedding", R).localCheckpoint()

    out = imi_knn_join(
        rot, "vec_id", "embedding", dim=dim, k=2, cells_per_half=2,
        iters=2,
    ).collect()
    assert out, "join emitted nothing"
    assert all(r["query_id"] != r["neighbor_id"] for r in out)
    per_q: dict = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) <= 2 for v in per_q.values())

    norms = np.linalg.norm(vecs, axis=1)
    for r in out:
        qi, ni = int(r["query_id"]) - 1, int(r["neighbor_id"]) - 1
        raw_cos = float(
            vecs[qi] @ vecs[ni] / (norms[qi] * norms[ni])
        )
        assert abs(float(r["cos"]) - raw_cos) < 2e-4, (r, raw_cos)


def test_committed_plan_covers_every_projected_horizon():
    """The real NEXT_WINDOW.json must be SELF-CONSISTENT over its
    whole committed horizon (r13 verdict task #1: horizon-robust, not
    a one-round patch). Forward-simulate the rolling protocol from the
    window round: each round R's window (the current ``queries()[:50]``
    for R = _WINDOW_ROUND, the committed ``plans[R]`` minimum for
    later rounds) re-greens its rows when round R's artifact lands;
    the cohort breaching at that point must be covered by plans[R+1].
    The old version projected exactly one horizon from max(rounds)+1,
    so the driver's artifact landing after the last builder commit
    aged it onto an uncommitted round — the third consecutive
    judge-time red. This version is timing-independent: real artifacts
    landing for rounds the simulation already covers change nothing."""
    plan = json.load(open(os.path.join(REPO, "NEXT_WINDOW.json")))
    sys.path.insert(0, REPO)
    import glob

    import __spark_entry__ as entry

    no_oracle = set(getattr(entry, "_NO_ORACLE_SIBLINGS", {}))
    # retired rows (NEXT_WINDOW.json "retired", r15 capacity policy)
    # are deregistered — their green history carries no rotation debt,
    # exactly as in tools/ledger.py. A retired name still registered
    # would be a policy violation; the ledger guards that, pin it here
    # too so the simulation can safely drop them.
    retired = set(plan.get("retired", {}))
    assert not retired & set(entry._all_queries()), (
        "retired rows must be deregistered: "
        f"{sorted(retired & set(entry._all_queries()))}"
    )
    last_green: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(f.split("_r")[1].split(".")[0])
        for name, row in json.load(open(f)).items():
            if name in retired:
                continue
            if row.get("hash_match") or (
                name in no_oracle and row.get("rows_match")
            ):
                last_green[name] = max(last_green.get(name, 0), rnd)

    wr = entry._WINDOW_ROUND
    # the rolling plan must run at least two rounds past the current
    # window — deep enough to survive one artifact landing after the
    # last builder commit, with a full round of slack
    committed_rounds = sorted(int(r) for r in plan["plans"])
    assert {wr + 1, wr + 2} <= set(committed_rounds), (
        f"rolling plan too shallow: window r{wr}, plans only for "
        f"{committed_rounds}"
    )

    windows = {wr: set(list(entry.queries())[:50])}
    for r in committed_rounds:
        if r > wr:
            windows[r] = set(plan["plans"][str(r)]["must_include"])

    eff = dict(last_green)
    for R in range(wr, max(windows) + 1):
        # round R's artifact lands: its window re-greens at vintage R
        for q in windows[R]:
            eff[q] = R
        if R == max(windows):
            break  # plans[R+1] is the NEXT round's rotation duty
        breach = {
            q for q, g in eff.items()
            if g < (R + 1) - MAX_STALE and q not in windows[R]
        }
        committed = set(
            plan["plans"].get(str(R + 1), {}).get("must_include", [])
        )
        assert breach <= committed, (
            f"after round {R}'s artifact lands, plans[{R + 1}] misses: "
            f"{sorted(breach - committed)}"
        )
