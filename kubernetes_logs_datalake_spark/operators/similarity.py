"""Similarity search over embedding columns (``array<float>``).

Two tiers:

- **brute-force top-k** — exact cosine against a query vector via
  ``zip_with``/``aggregate`` column math. O(N·d) scan, embarrassingly
  parallel, no shuffle until the final top-k (TakeOrderedAndProject).
  The correctness baseline; DuckDB mirrors it with
  ``list_cosine_similarity``.
- **LSH (random hyperplanes)** — sign-bit signatures over ``p``
  deterministic hyperplanes block the corpus into 2^p buckets; probe
  only the query's bucket (multi-probe: flip low-margin bits). Turns
  the 100 TB scan into a bucket-local one; recall tunable by p and
  probes.

An IVF variant (k-means coarse quantizer via pyspark.ml) would slot in
the same shape: assign→probe nearest centroids→re-rank. Random
hyperplanes are preferred here because they need no training pass and
are deterministic, which the harness requires.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import shuffle_partitions

from kubernetes_logs_datalake_spark.functions.vectors import cosine, literal_vector


def brute_force_topk(
    df: DataFrame, vec_col: str, query: list[float], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``.

    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject: each
    partition keeps its local k, the driver merges — no global sort
    shuffle. Ties break on id for determinism.
    """
    q = literal_vector(query)
    return (
        df.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def truncated_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    dim_keep: int,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-style truncated-vector ANN (Kusupati et al. 2022):
    exact cosine top-k over only the FIRST ``dim_keep`` dimensions of
    the embedding — the serving trick for MRL-trained embeddings, where
    prefixes of the vector are themselves valid lower-dim embeddings.
    Cuts scan arithmetic and (when the store is laid out prefix-first)
    read bytes by dim/dim_keep with zero training or index state; the
    honest-recall harness reports what the truncation costs on a given
    corpus. Plan: one slice + cosine map stage, TakeOrderedAndProject —
    the brute_force_topk shape on a dim_keep-wide column.
    """
    if not 1 <= dim_keep <= len(query):
        raise ValueError(
            f"dim_keep must be in [1, {len(query)}], got {dim_keep}"
        )
    q = literal_vector([float(v) for v in query[:dim_keep]])
    sub = F.slice(F.col(vec_col), 1, dim_keep)
    return (
        df.select(F.col(id_col), cosine(sub, q).alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def truncated_refine_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    dim_keep: int,
    k: int = 10,
    n_candidates: int = 40,
    id_col: str = "vec_id",
    scale: int = 4,
) -> DataFrame:
    """Two-stage matryoshka funnel (adaptive retrieval, Kusupati et al.
    2022 §4.3) — the deployment shape MRL truncation exists for:
    :func:`truncated_topk` over the first ``dim_keep`` dims proposes
    ``n_candidates`` survivors, then EXACT full-dimension cosine
    re-ranks them to ``topk``. The prefix scan pays dim_keep/dim of the
    arithmetic on the whole corpus; full-precision work is bounded by
    ``n_candidates`` rows, independent of corpus size (the
    ``pq_refine_topk`` refine idiom, with the truncated prefix as the
    coarse scorer instead of ADC lookups).

    Output: (id, cos) — exact cosine, descending, ties by id. Recall
    is the prefilter's: refine only reorders survivors, so size
    ``n_candidates``/``k`` from the measured recall-vs-k′ curve
    (SCALE.md r10 records it on the uniform fixture).

    Plan: prefix scan + TakeOrdered(n_candidates) → the ≤n_candidates
    id rows join back onto the corpus (AQE broadcasts the tiny side;
    the corpus never shuffles) → one more TakeOrdered(k).
    """
    cands = truncated_topk(
        df, vec_col, query, dim_keep=dim_keep, k=n_candidates, id_col=id_col
    ).select(id_col)
    qlit = literal_vector([float(v) for v in query])
    return (
        df.join(cands, id_col)
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), qlit), scale).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def brute_force_topk_arrow(
    df: DataFrame, vec_col: str, query: list[float], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Arrow-vectorized brute-force top-k: same semantics as
    ``brute_force_topk``, executed as a numpy matrix product per Arrow
    batch inside ``mapInArrow``.

    The column-expression version's higher-order functions evaluate
    interpreted per element; this path does one BLAS matvec per Arrow
    batch over the list column's flat value buffer (no Python lists).
    Measured locally at 500k x 64-float vectors the two are comparable
    (arrow slightly ahead warm, behind cold due to Python worker
    startup); the gap widens with dimension and corpus size, making
    this the preferred shape for embedding-heavy workloads. Values can
    differ from the sequential fold in the last float ulp (pairwise vs
    sequential summation), so the DuckDB-oracle contract keeps the
    column version.
    """
    import numpy as np
    import pyarrow as pa

    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q)

    def score(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if len(tbl) == 0:
                continue
            ids = tbl.column(id_col).to_numpy()
            # zero-copy-ish: flatten the list column's value buffer and
            # reshape — never materialize Python lists
            lst = tbl.column(vec_col).combine_chunks()
            mat = lst.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            ).reshape(len(tbl), -1)
            norms = np.linalg.norm(mat, axis=1)
            denom = norms * qn
            cos = np.where(denom > 0, mat @ q / np.where(denom == 0, 1, denom), 0.0)
            yield pa.record_batch(
                {id_col: pa.array(ids), "cos": pa.array(cos, pa.float64())}
            )

    scored = df.select(id_col, vec_col).mapInArrow(
        score, f"{id_col} long, cos double"
    )
    return scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG; no numpy
    dependency in the plan, reproducible across executors/runs)."""
    state = seed & 0x7FFFFFFF
    out = []
    for _ in range(planes):
        vec = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            vec.append(state / 0x7FFFFFFF * 2.0 - 1.0)
        n = math.sqrt(sum(v * v for v in vec)) or 1.0
        out.append([v / n for v in vec])
    return out


def lsh_signature(vec_col, planes: list[list[float]]):
    """Sign-bit bucket id of a vector under the hyperplane set."""
    from kubernetes_logs_datalake_spark.functions.vectors import dot

    acc = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        acc = acc + F.when(dot(vec_col, literal_vector(p)) >= 0, F.lit(2**i).cast("long")).otherwise(0)
    return acc


def lsh_signatures_packed(
    vec_col, dim: int, bits: int, tables: int, seed: int = 42
):
    """``array<long>`` of all ``tables`` sign-bit buckets in ONE
    expression: every hyperplane lives in a single packed literal
    (tables·bits·dim doubles) and the (table, bit) loops run as HOF
    ``transform``/``aggregate`` over index sequences, with the per-bit
    dot product folding ``zip_with(vec, slice(H, offset, dim))``.

    Equivalent to ``[lsh_signature(vec, _hyperplanes(dim, bits,
    seed + 7919·t)) for t in range(tables)]`` up to a fixed bijection of
    bucket ids (bit order is Horner-reversed), so collision sets — the
    only thing buckets are used for — are identical (pytest-asserted).
    The point is ANALYSIS cost: the unrolled form puts tables·bits dot
    subtrees in the plan (×2 under a self-join) and Catalyst analysis
    dominated the whole query; this form is ~20 nodes regardless of
    (bits, tables), moving the loop from the expression tree into data.
    """
    flat: list[float] = []
    for t in range(tables):
        for p in _hyperplanes(dim, bits, seed + 7919 * t):
            flat.extend(p)
    H = literal_vector(flat)
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col

    def dot_slice(off):
        prod = F.zip_with(
            vec, F.slice(H, off, dim), lambda x, y: x.cast("double") * y
        )
        return F.aggregate(prod, F.lit(0.0), lambda a, x: a + x)

    return F.transform(
        F.sequence(F.lit(0), F.lit(tables - 1)),
        lambda t: F.aggregate(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            F.lit(0).cast("long"),
            lambda acc, b: acc * 2
            + F.when(
                dot_slice((t * F.lit(bits) + b) * dim + 1) >= 0,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    planes: int = 8,
    id_col: str = "vec_id",
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: restrict the cosine scan to the query's LSH
    bucket(s). ``probes`` > 1 also scans buckets at Hamming distance 1
    from the query signature (multi-probe) to recover recall."""
    hp = _hyperplanes(len(query), planes)
    sig_col = lsh_signature(F.col(vec_col), hp)
    # driver-side query signature
    qsig = 0
    for i, p in enumerate(hp):
        if sum(a * b for a, b in zip(query, p)) >= 0:
            qsig |= 1 << i
    buckets = {qsig}
    if probes > 1:
        for b in range(planes):
            buckets.add(qsig ^ (1 << b))
    q = literal_vector(query)
    return (
        df.withColumn("_bucket", sig_col)
        .filter(F.col("_bucket").isin(*buckets))
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    Train k-means centroids with the repo's deterministic
    :func:`~kubernetes_logs_datalake_spark.operators.vectors.kmeans_fit`
    (md5-order init, exact-decimal updates — bit-reproducible, so the
    whole IVF path is SQL-oracle-checkable), assign every vector to its
    nearest centroid, then scan only the ``n_probe`` centroids nearest
    the query. The 100 TB shape: training samples the corpus once;
    assignment is a broadcast of ``n_centroids`` small vectors; the
    probe scan touches ~n_probe/n_centroids of the data — and the
    assignment column can be persisted as a partition key so probes
    become partition pruning.
    """
    from kubernetes_logs_datalake_spark.operators.vectors import (
        kmeans_assign,
        kmeans_fit,
    )

    centers, _ = kmeans_fit(
        df, id_col, vec_col, k=n_centroids, iters=3
    )

    # distance of the driver-side query to each centroid → probe set
    def sqdist(a: list[float], b: list[float]) -> float:
        return sum((x - y) ** 2 for x, y in zip(a, b))

    probe = sorted(range(len(centers)), key=lambda i: sqdist(query, centers[i]))[:n_probe]

    # executor-side assignment: kmeans_assign's single PACKED centroid
    # literal (one ~k·dim literal in the plan) — per-centroid
    # literal_vector subtrees would make Catalyst analysis the dominant
    # cost at large k (the lsh_signatures_packed lesson)
    q = literal_vector(query)
    return (
        kmeans_assign(df, id_col, vec_col, centers)
        .filter(F.col("cluster").isin(probe))
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos"))
        .orderBy(F.desc("cos"), F.col(id_col))
        .limit(k)
    )


def lsh_bucketed_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 8,
    seed: int = 42,
    max_bucket: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs without the all-pairs join — the scale
    path promised by ``operators.dedup.embedding_dedup_pairs``.

    Shape: ``tables`` independent random-hyperplane signatures of
    ``bits`` sign-bits each; rows colliding in any table's bucket become
    candidates (banded equi-join on (table, bucket) — never all-pairs);
    candidates are re-ranked with the exact cosine and filtered at
    ``threshold``, so output ⊆ brute force with recall set by
    (bits, tables): per-table collision ≈ (1-θ/π)^bits, overall
    1-(1-p)^tables. High thresholds (real near-dup, cos ≥ 0.9) take
    bits=8+; low thresholds need fewer bits / more tables.

    ``max_bucket`` skips buckets larger than the cap (hot-bucket guard:
    Σ bucket² cost stays bounded; skipped mass is recoverable by adding
    tables). Deterministic: LCG hyperplanes, fixed seeds.

    ``dim`` is the vector dimension; pass it explicitly when known (the
    contract query shares one constant with its SQL oracle so the two
    cannot silently diverge). When omitted, a 1-row probe runs an eager
    job at plan-construction time; an empty/all-null input raises a
    clear ValueError instead of a bare TypeError.
    """
    if dim is None:
        probe = df.select(F.size(F.col(vec_col))).first()  # 1-row probe
        if probe is None or probe[0] is None or probe[0] < 0:
            raise ValueError(
                "lsh_bucketed_pairs: cannot infer vector dimension from an "
                "empty or null-vector input; pass dim= explicitly"
            )
        dim = probe[0]
    banded = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            lsh_signatures_packed(vec_col, dim, bits, tables, seed)
        ).alias("tbl", "bucket"),
    )
    if max_bucket is not None:
        counts = banded.groupBy("tbl", "bucket").agg(F.count("*").alias("_bn"))
        banded = banded.join(
            counts.filter(F.col("_bn") <= max_bucket).drop("_bn"),
            ["tbl", "bucket"],
            "left_semi",
        )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    from kubernetes_logs_datalake_spark.functions.vectors import cosine_prenorm, norm

    # per-row norms join through with the vectors; the per-pair re-rank
    # then folds only the dot product
    va = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
        norm(vec_col).alias("_na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
        norm(vec_col).alias("_nb"),
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", cosine_prenorm("_va", "_vb", "_na", "_nb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def knn_join_bruteforce(
    left: DataFrame,
    right: DataFrame,
    left_vec: str,
    right_vec: str,
    left_id: str,
    right_id: str,
    k: int = 5,
) -> DataFrame:
    """For every left row, its k nearest right rows by cosine.

    Broadcast the smaller (right) side, window-rank per left id. The
    100 TB shape: right is a centroid/probe set (small), left is the
    corpus — broadcast avoids shuffling the corpus entirely.
    """
    from pyspark.sql import Window

    from kubernetes_logs_datalake_spark.functions.vectors import cosine_prenorm, norm

    # norms fold once per ROW before the join; only the dot product
    # runs per PAIR (3x less higher-order-function work in the loop)
    joined = left.select(
        F.col(left_id).alias("query_id"),
        F.col(left_vec).alias("_lv"),
        norm(left_vec).alias("_ln"),
    ).crossJoin(
        F.broadcast(
            right.select(
                F.col(right_id).alias("neighbor_id"),
                F.col(right_vec).alias("_rv"),
                norm(right_vec).alias("_rn"),
            )
        )
    )
    scored = joined.withColumn("cos", cosine_prenorm("_lv", "_rv", "_ln", "_rn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# -------------------------------------------------- hybrid retrieval


def _rank_candidates(df: DataFrame, id_col: str, score_col: str) -> DataFrame:
    """(id, rank) over a BOUNDED candidate list (a top-N output):
    rank = 1 + #{rows with (score desc, id asc)-better position} via a
    self-join count — deliberately NOT a window: an unpartitioned
    WindowExec single-partitions its input (the plan gate bans it),
    while an N²-row join over N≤~100 candidates is noise. Ids are
    unique so the ranking is total and engine-deterministic."""
    a = df.select(F.col(id_col).alias("_id"), F.col(score_col).alias("_s"))
    b = df.select(F.col(id_col).alias("_id2"), F.col(score_col).alias("_s2"))
    better = (F.col("_s2") > F.col("_s")) | (
        (F.col("_s2") == F.col("_s")) & (F.col("_id2") < F.col("_id"))
    )
    return (
        a.join(b, better, "left")
        .groupBy("_id")
        .agg((F.count("_id2") + 1).cast("int").alias("rank"))
    )


def hybrid_topk(
    keyword_topn: DataFrame,
    vector_topn: DataFrame,
    keyword_id: str,
    vector_id: str,
    keyword_score: str,
    vector_score: str,
    k: int = 10,
    c: int = 60,
    scale: int = 6,
) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009):
    fuse a keyword top-N (BM25) and a vector top-N (cosine) into one
    ranking — ``rrf = Σ 1/(c + rank)`` over the lists a document
    appears in. The standard RAG retrieval stack, entirely on-engine:
    both inputs are bounded candidate lists (their own
    TakeOrderedAndProject outputs), so fusion is joins over ≤N rows and
    the final cut is another TakeOrdered — nothing rescans the corpus.

    Output: (doc_id, kw_rank, vec_rank, rrf) — ranks NULL where a
    document appears in only one list; top-k by rrf desc, id asc.
    """
    kr = _rank_candidates(keyword_topn, keyword_id, keyword_score).select(
        F.col("_id").alias("doc_id"), F.col("rank").alias("kw_rank")
    )
    vr = _rank_candidates(vector_topn, vector_id, vector_score).select(
        F.col("_id").alias("doc_id"), F.col("rank").alias("vec_rank")
    )
    fused = kr.join(vr, "doc_id", "full")
    rrf = F.round(
        F.coalesce(1.0 / (F.lit(c) + F.col("kw_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(c) + F.col("vec_rank")), F.lit(0.0)),
        scale,
    )
    return (
        fused.select("doc_id", "kw_rank", "vec_rank", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id"))
        .limit(k)
    )


def mmr_rerank(
    candidates: DataFrame,
    sims: DataFrame,
    id_col: str,
    rel_col: str,
    k: int = 5,
    lam: float = 0.7,
    scale: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick k results maximizing
    ``λ·relevance − (1−λ)·max-similarity-to-already-picked`` — the
    diversification stage after retrieval/fusion, so near-duplicate
    hits don't crowd the result list.

    ``candidates`` is a BOUNDED list (a top-N output) with a relevance
    column; ``sims`` holds symmetric pairwise similarities
    (id_a, id_b, sim) over those candidates. Greedy selection is
    inherently sequential, but the state it needs is tiny — N rels and
    an N×N sim matrix — so the engine runs exactly TWO jobs (one
    collect per input; rows fetched, never the corpus — the
    k-means/BPE driver-traffic contract) and the k greedy steps run
    driver-side over the collected matrix. Scan count is independent
    of k; the earlier one-TakeOrdered-per-step shape re-executed the
    full candidate lineage k+1 times (round-5 verdict finding).
    Scores are rounded to ``scale`` before ordering with the same
    HALF_UP rule as Spark's ``round`` (ties → lowest id), so the
    greedy path — and therefore the whole output — is
    engine-reproducible.

    Output: (rank, id, rel, mmr_score) in selection order, where
    mmr_score is the criterion value at the moment of selection.
    """
    from decimal import ROUND_HALF_UP, Decimal

    def _round(x: float) -> float:
        # Spark round(double, s) = BigDecimal.valueOf(x).setScale(s,
        # HALF_UP); Python repr() is the same shortest-decimal string
        # Double.toString produces, so this reproduces it bit-for-bit.
        return float(
            Decimal(repr(x)).quantize(
                Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
            )
        )

    spark = candidates.sparkSession
    rels = {
        r["_id"]: r["_rel"]
        for r in candidates.select(
            F.col(id_col).alias("_id"),
            F.col(rel_col).cast("double").alias("_rel"),
        ).collect()
    }
    sim = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in sims.select("id_a", "id_b", "sim").collect()
    }
    picked: list = []
    out_rows = []
    for rank in range(1, min(k, len(rels)) + 1):
        best = None
        for cid, rel in rels.items():
            if cid in picked:
                continue
            if picked:
                pen = max(
                    (sim[(cid, p)] for p in picked if (cid, p) in sim),
                    default=0.0,
                )
                score = _round(lam * rel - (1.0 - lam) * pen)
            else:
                score = _round(lam * rel)
            if best is None or (-score, cid) < (-best[0], best[1]):
                best = (score, cid, rel)
        score, cid, rel = best
        picked.append(cid)
        out_rows.append((rank, cid, float(rel), float(score)))
    return spark.createDataFrame(
        out_rows, f"rank int, {id_col} long, rel double, mmr_score double"
    )


def hard_negatives(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str,
    id_col: str,
    max_cos: float = 0.95,
    k: int = 3,
) -> DataFrame:
    """Contrastive hard-negative mining: for every probe vector, the
    ``k`` most-similar corpus rows BELOW the near-duplicate ceiling
    ``max_cos`` — the negatives that actually teach an embedding model
    (too similar = a mislabeled positive, too dissimilar = no gradient;
    cf. the in-batch/ANN-negative regime of DPR, Karpukhin et al.
    2020).

    Same 100 TB shape as :func:`knn_join_bruteforce`: the probe set is
    broadcast (probes are the small side by construction), the corpus
    never shuffles, norms fold once per row, and the ceiling filter
    runs BEFORE the per-probe rank window so near-dups never occupy
    top-k slots. Output: (query_id, neighbor_id, cos, rank).
    """
    from pyspark.sql import Window

    from kubernetes_logs_datalake_spark.functions.vectors import (
        cosine_prenorm,
        norm,
    )

    joined = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        norm(vec_col).alias("_cn"),
    ).crossJoin(
        F.broadcast(
            probes.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("_pv"),
                norm(vec_col).alias("_pn"),
            )
        )
    )
    scored = joined.withColumn(
        "cos", cosine_prenorm("_pv", "_cv", "_pn", "_cn")
    ).filter(
        (F.col("cos") < max_cos) & (F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _multi_probe_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    p: int,
) -> DataFrame:
    """(id, vec, cluster, probe_rank 1..p) exploded over each vector's
    ``p`` NEAREST cells (ties by cell index) — ONE assignment pass that
    serves both sides of a multi-probe IVF join: probe_rank=1 is the
    primary cell, bit-identical to ``kmeans_assign``'s argmin (both
    break ties toward the lowest cell index), so the n·cells·dim
    distance work — the dominant term under the √n rule — is paid once,
    not once per side. Same packed-literal + explode-barrier idiom as
    ``kmeans_assign`` (the d2 struct array materializes once; the slice
    of the sorted array unnests to p rows), map-only, no UDF."""
    from kubernetes_logs_datalake_spark.functions.vectors import (
        literal_vector,
    )

    kk = len(centroids)
    dim = len(centroids[0])
    flat: list[float] = []
    for c in centroids:
        flat.extend(float(v) for v in c)
    C = literal_vector(flat)
    vec = F.col(vec_col)
    d2 = F.transform(
        F.sequence(F.lit(0), F.lit(kk - 1)),
        lambda j: F.struct(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.slice(C, j * dim + 1, dim),
                    lambda x, c: (x.cast("double") - c)
                    * (x.cast("double") - c),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("d"),
            j.cast("int").alias("j"),
        ),
    )
    mid = df.select(
        F.col(id_col),
        vec.alias("_v"),
        F.explode(F.array(F.slice(F.array_sort(d2), 1, p))).alias("_top"),
    )
    return mid.select(
        F.col(id_col),
        F.col("_v").alias(vec_col),
        F.posexplode(F.col("_top")).alias("_pos", "_probe"),
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("_probe").getField("j").alias("cluster"),
        (F.col("_pos") + 1).cast("int").alias("probe_rank"),
    )


def ivf_knn_join(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    cells: int = 8,
    iters: int = 3,
    centers: list[list[float]] | None = None,
    n_probe: int = 1,
    split_cap: int | None = None,
    assign_arrow: bool = False,
) -> DataFrame:
    """Corpus×corpus approximate kNN join through an IVF coarse
    quantizer: every vector is assigned to its nearest deterministic
    k-means centroid (``vectors.kmeans_fit``) and neighbors are ranked
    only WITHIN the cell — the standard way to get all-pairs kNN at
    corpus scale without the O(n²) join (the same cell-locality trick
    SemDeDup uses for its pair stage; cells ∝ corpus keeps Σ|cᵢ|²
    linear, exactly the measured SemDeDup k-scaling law in SCALE.md).

    Contrast with :func:`knn_join_bruteforce`, which broadcasts a SMALL
    probe side: here BOTH sides are the corpus, so nothing broadcasts —
    the join is a cluster-keyed equi-join (shuffle by cell), and the
    per-query rank window is partitioned by query id.

    Output: (query_id, neighbor_id, cos, rank ≤ k among same-cell
    neighbors). Approximation: true neighbors in other cells are
    missed — recall grows with cells' balance; eval with the same
    recall harness as ann_recall_lsh (``ann_recall_ivf_join``).

    ``n_probe > 1`` is the standard IVF recall knob applied to the
    JOIN: the query side explodes over its ``n_probe`` nearest cells
    (the neighbor side stays at its one primary cell, so a pair is
    generated at most once — no dedup stage) and candidate work scales
    ×n_probe while recall climbs toward exact. n_probe=1 is
    bit-identical to the pre-r10 operator.

    ``split_cap`` (r11) bounds the cell-keyed join against skew: any
    cell above the cap is deterministically sub-clustered in place
    (``cellsplit.split_oversized_cells`` — children nest inside the
    parent) and BOTH sides join on the refined cell, so one fat cell
    on a clustered corpus can't re-create the quadratic candidate
    stage (r10 verdict #1). Under multi-probe, the query side replays
    the identical refinement (``apply_cell_splits``) onto each of its
    probed parents and descends to its single nearest sub-cell, so
    pairs stay unique by construction; the recall cost of descending
    is measured, not assumed (`ann_recall_ivf_join*` harnesses +
    SCALE.md skew A/B). Inactive — bit-identical plans and results —
    when no cell exceeds the cap, which holds on every sandbox
    fixture.
    """
    from pyspark.sql import Window

    from kubernetes_logs_datalake_spark.functions.vectors import (
        cosine_prenorm,
        norm,
    )
    from kubernetes_logs_datalake_spark.operators.vectors import (
        kmeans_assign,
        kmeans_fit,
    )

    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    # pre-trained centers skip the Lloyd fit (deterministic pure
    # function of (corpus, cells, iters) — cacheable, the PQ contract)
    if centers is not None and len(centers) != cells:
        raise ValueError(f"{len(centers)} centers != cells {cells}")
    if centers is None:
        centers, _ = kmeans_fit(df, id_col, vec_col, k=cells, iters=iters)
    if n_probe > 1:
        # ONE assignment pass serves both sides (probe_rank=1 is the
        # primary cell, bit-identical to kmeans_assign's argmin): the
        # n·cells·dim distance work is the dominant term under the √n
        # rule, so paying it per side would double the whole stage
        multi = _multi_probe_cells(
            df, id_col, vec_col, centers, n_probe
        ).localCheckpoint(eager=False)
        multi = multi.withColumn(
            "cell", F.col("cluster").cast("string")
        )
        if split_cap is not None:
            from kubernetes_logs_datalake_spark.operators.cellsplit import (
                apply_cell_splits,
                split_oversized_cells,
            )

            # splits are computed from the PRIMARY assignment (the
            # neighbor-side cells), then replayed map-only onto every
            # probed (row, parent) pair — both sides land in identical
            # sub-cells, keeping pairs unique by construction
            _, cell_splits = split_oversized_cells(
                multi.filter(F.col("probe_rank") == 1),
                id_col, vec_col, cap=split_cap,
            )
            multi = apply_cell_splits(
                multi, vec_col, cell_splits, id_col=id_col,
                probe_col="probe_rank",
            )
        base = multi.withColumn("_n", norm(vec_col))
        a = base.select(
            "cell",
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_va"),
            F.col("_n").alias("_na"),
        )
        base = base.filter(F.col("probe_rank") == 1)
    else:
        # one materialization feeds both join sides (the semdedup shape).
        # assign_arrow swaps in the bit-identical numpy scan
        # (kmeans_assign_arrow — the 100 TB profile knob; expression
        # path stays the default for the 0-python_eval plan invariant)
        if assign_arrow:
            from kubernetes_logs_datalake_spark.operators.vectors import (
                kmeans_assign_arrow,
            )

            assigned = kmeans_assign_arrow(df, id_col, vec_col, centers)
        else:
            assigned = kmeans_assign(df, id_col, vec_col, centers)
        assigned = assigned.localCheckpoint(eager=False)
        if split_cap is not None:
            from kubernetes_logs_datalake_spark.operators.cellsplit import (
                split_oversized_cells,
            )

            assigned, _ = split_oversized_cells(
                assigned, id_col, vec_col, cap=split_cap
            )
        else:
            assigned = assigned.withColumn(
                "cell", F.col("cluster").cast("string")
            )
        base = assigned.select(
            "cell", F.col(id_col), F.col(vec_col),
            norm(vec_col).alias("_n"),
        )
        a = base.select(
            "cell",
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_va"),
            F.col("_n").alias("_na"),
        )
    b = base.select(
        "cell",
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    # Pin the pair-join width (explicit-N repartitions are exempt from
    # AQE coalescing): the cell exchange is one small row per vector,
    # so byte-based coalescing collapses it to 1-2 tasks — but the
    # per-pair cosine work after it is ×|cell| the exchange bytes
    # (measured at ×10: the scoring stage ran as ONE task, r11).
    nparts = shuffle_partitions(df.sparkSession)
    a = a.repartition(nparts, F.col("cell"))
    b = b.repartition(nparts, F.col("cell"))
    scored = (
        a.join(b, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenorm("_va", "_vb", "_na", "_nb").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _sq8_shifted_decoded_terms(
    codes, mins: list, inv: list, dim: int
) -> list:
    """Per-dimension decoded doubles from a SIGNED-SHIFTED
    ``array<tinyint>`` code column (element = byte − 128): the +128
    un-shift runs in integer domain before the single float multiply,
    so each term is exactly ``mn_i + byte_i·inv_i`` — bit-identical to
    decoding the unsigned byte, which is what keeps the DuckDB oracle's
    ``b.mn[i] + code·b.iv[i]`` formula valid. All codegen arithmetic
    (GetArrayItem + fma), no string ops — this is the per-PAIR decode
    of the IVFADC join, so per-term cost is the whole game."""
    return [
        F.lit(mins[i - 1])
        + (F.element_at(codes, i).cast("int") + F.lit(128)).cast("double")
        * F.lit(inv[i - 1])
        for i in range(1, dim + 1)
    ]


def _sq8_shifted_decoded_sql(codes_col: str, mins, inv, i: int) -> str:
    """SQL text of ``_sq8_shifted_decoded_terms``'s i-th term — the
    identical expression tree built by one JVM parse instead of ~7 py4j
    round-trips per dimension (r15; see ``sql_double``)."""
    from kubernetes_logs_datalake_spark.functions.vectors import sql_double

    return (
        f"{sql_double(mins[i - 1])} + "
        f"CAST((CAST(element_at({codes_col}, {i}) AS INT) + 128) AS DOUBLE)"
        f" * {sql_double(inv[i - 1])}"
    )


def ivf_knn_join_adc(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    refine_k: int = 12,
    cells: int = 8,
    iters: int = 3,
    centers: list[list[float]] | None = None,
    n_probe: int = 1,
    split_cap: int | None = None,
    bounds: tuple[list, list] | None = None,
    packed: DataFrame | None = None,
) -> DataFrame:
    """IVFADC-style corpus×corpus kNN join: the cell-keyed candidate
    join ships STORED SQ8 codes (``dim`` bytes/row) instead of the raw
    float64 vector (~8·``dim`` B/row + array overhead), candidates are
    shortlisted per query by symmetric decoded-SQ8 cosine, and only the
    top-``refine_k`` shortlist re-ranks against raw vectors for the
    exact final top-``k`` — Jégou et al. 2011's IVFADC serving recipe
    applied to the JOIN (the ``ann_topk_pq_refine`` funnel shape, with
    the coarse quantizer shared with :func:`ivf_knn_join`).

    Why this wins at 100 TB: in the plain join the dominant exchange is
    (1+n_probe)·n raw vectors through the cell shuffle (~530 B/row at
    dim 64); here it is (1+n_probe)·n code rows (~90 B: dim signed
    tinyints + array header + one decoded-norm double) — the ~6×
    byte cut the r10 verdict asked for, paid for with per-pair decoded
    arithmetic (codegen array reads + fma, CPU local to the reducer —
    the right side of the shuffle-vs-compute trade) plus two narrow
    id-keyed re-rank joins that touch only n + n·refine_k rows (and
    co-locate for free on an id-bucketed corpus table). The
    approximation is confined to SHORTLISTING — output cosines are
    exact by construction, so the DuckDB oracle checks values, not just
    shape; recall-vs-refine_k is measured, not assumed
    (``ann_recall_ivf_join_adc``, SCALE.md).

    ``packed`` is the stored-codes frame (id, packed binary) a serving
    fleet persists once (the ``_sq8_packed_cached`` idiom); omitted, it
    is derived inline (map-only). ``bounds`` must be the train-time
    per-dim (mins, maxs) the codes were encoded with (derived from the
    corpus when omitted). ``split_cap``/``n_probe`` behave exactly as
    in :func:`ivf_knn_join`. Determinism: decode arithmetic follows the
    SQ8 oracle's operand order, the pair dot/norms are flat ascending
    left-associative sums (≡ DuckDB's sequential ``list_sum``), and
    every rank window breaks ties by neighbor id.

    Output: (query_id, neighbor_id, cos, rank ≤ k) with exact cosines.
    """
    from pyspark.sql import Window

    from kubernetes_logs_datalake_spark.functions.vectors import (
        cosine_prenorm,
        norm,
    )
    from kubernetes_logs_datalake_spark.operators.vectors import (
        kmeans_assign,
        kmeans_fit,
        sq8_bounds,
        sq8_encode,
        sq8_pack,
    )

    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    if refine_k < k:
        raise ValueError(f"refine_k {refine_k} must be >= k {k}")
    if centers is not None and len(centers) != cells:
        raise ValueError(f"{len(centers)} centers != cells {cells}")
    if centers is None:
        centers, _ = kmeans_fit(df, id_col, vec_col, k=cells, iters=iters)
    mins, maxs = (
        bounds if bounds is not None else sq8_bounds(df, vec_col, dim)
    )
    inv = [
        ((mx - mn) / 255.0) if mx > mn else 0.0
        for mn, mx in zip(mins, maxs)
    ]
    if packed is None:
        packed = sq8_pack(
            sq8_encode(df, id_col, vec_col, dim, bounds=(mins, maxs)),
            id_col, dim=dim,
        )

    # assignment (+ optional skew split) exactly as in ivf_knn_join —
    # vec is needed only map-side (assignment + split replay) and is
    # dropped BEFORE the cell shuffle: codes ride instead
    if n_probe > 1:
        multi = _multi_probe_cells(
            df, id_col, vec_col, centers, n_probe
        ).localCheckpoint(eager=False)
        multi = multi.withColumn("cell", F.col("cluster").cast("string"))
        if split_cap is not None:
            from kubernetes_logs_datalake_spark.operators.cellsplit import (
                apply_cell_splits,
                split_oversized_cells,
            )

            _, cell_splits = split_oversized_cells(
                multi.filter(F.col("probe_rank") == 1),
                id_col, vec_col, cap=split_cap,
            )
            multi = apply_cell_splits(
                multi, vec_col, cell_splits, id_col=id_col,
                probe_col="probe_rank",
            )
        asg = multi.select(id_col, "cell", "probe_rank")
    else:
        assigned = kmeans_assign(df, id_col, vec_col, centers)
        assigned = assigned.localCheckpoint(eager=False)
        if split_cap is not None:
            from kubernetes_logs_datalake_spark.operators.cellsplit import (
                split_oversized_cells,
            )

            assigned, _ = split_oversized_cells(
                assigned, id_col, vec_col, cap=split_cap
            )
        else:
            assigned = assigned.withColumn(
                "cell", F.col("cluster").cast("string")
            )
        asg = assigned.select(id_col, "cell").withColumn(
            "probe_rank", F.lit(1)
        )

    # Unpack the stored binary into a SIGNED-SHIFTED array<tinyint>
    # ONCE per row (64 string-op byte extracts per ROW, the
    # sq8_score_packed cost class) so the per-PAIR math is pure codegen
    # arithmetic over array reads — the first cut shipped the raw
    # binary and paid conv(hex(substring)) per dimension per PAIR,
    # which measured 287 s at ×10 (string ops × 11M pairs); this form
    # is ~50× cheaper per pair and the decoded VALUE is bit-identical
    # (the +128 un-shift happens in integer domain before the one
    # float multiply, so dec_i = mn_i + byte_i·inv_i exactly — the
    # oracle formula is unchanged). Wire cost per row: dim 1-byte
    # elements + array header + one norm double ≈ 90 B at dim 64, vs
    # ~530 B for the raw float64 vector.
    # SQL-text form of: (conv(hex(substring(packed,i,1)),16,10)::int
    # - 128)::tinyint per dim — the tree is identical to the Column-API
    # construction it replaced, but ONE F.expr parse instead of ~450
    # py4j round-trips (r15: Column-API construction alone cost ~1.5 s
    # of driver time per build; see sql_double).
    codes_s_expr = F.expr(
        "array(%s)"
        % ",".join(
            f"CAST((CAST(conv(hex(substring(packed,{i},1)),16,10) AS INT)"
            f" - 128) AS TINYINT)"
            for i in range(1, dim + 1)
        )
    )
    # explode barrier: the 64-extract unpack expression is referenced
    # by all 64 norm terms below — CollapseProject would inline it per
    # reference without the Generate node (the kmeans_assign idiom)
    unpacked = asg.join(packed, id_col).select(
        F.col(id_col), F.col("cell"), F.col("probe_rank"),
        F.explode(F.array(codes_s_expr)).alias("_cs"),
    )
    # Per-pair cost is the whole game (candidates ≈ n·cap rows), so the
    # decoded dot is algebraically SEPARATED: with shifted code s and
    # per-dim L_i = mn_i + 128·inv_i (the decode of s=0),
    #   Σ dec_a·dec_b = Σ L_i² + Σ L_i·inv_i·(sa_i + sb_i)
    #                 + Σ inv_i²·sa_i·sb_i
    # The first term is a plan-time constant, the middle collapses into
    # ONE per-ROW partial (_ps, computed map-side before the shuffle),
    # and only the weighted integer-product tail is per-pair — ~2×
    # fewer interpreted expression nodes per pair than the naive
    # Σ(mn+b·inv)(mn+b·inv) (measured 44.5 → ~23 s at ×10). The oracle
    # mirrors this exact grouping, so the changed float-summation order
    # is parity-checked, not assumed.
    import functools
    import operator as _op

    from kubernetes_logs_datalake_spark.functions.vectors import sql_double

    Ls = [mins[i] + 128.0 * inv[i] for i in range(dim)]
    LIs = [Ls[i] * inv[i] for i in range(dim)]
    Ws = [inv[i] * inv[i] for i in range(dim)]
    C0 = functools.reduce(_op.add, [L * L for L in Ls])
    # SQL-text twins of the Column-API builders (bit-identical trees:
    # flat LEFT-ASSOCIATIVE sums — SQL's + is left-associative — over
    # the same per-dim terms; r15 driver-time cut, see sql_double)
    dterm_sql = [
        "(%s)" % _sq8_shifted_decoded_sql("_cs", mins, inv, i)
        for i in range(1, dim + 1)
    ]
    dnorm = F.expr(
        "SQRT(%s)" % " + ".join(f"{t} * {t}" for t in dterm_sql)
    )
    ps = F.expr(
        " + ".join(
            f"{sql_double(LIs[i - 1])} * "
            f"CAST(element_at(_cs, {i}) AS DOUBLE)"
            for i in range(1, dim + 1)
        )
    )
    coded = unpacked.select(
        F.col(id_col), F.col("cell"), F.col("probe_rank"),
        F.col("_cs"), dnorm.alias("_dn"), ps.alias("_ps"),
    )
    a = coded.select(
        "cell",
        F.col(id_col).alias("query_id"),
        F.col("_cs").alias("_ca"),
        F.col("_dn").alias("_dna"),
        F.col("_ps").alias("_psa"),
    )
    b = coded.filter(F.col("probe_rank") == 1).select(
        "cell",
        F.col(id_col).alias("neighbor_id"),
        F.col("_cs").alias("_cb"),
        F.col("_dn").alias("_dnb"),
        F.col("_ps").alias("_psb"),
    )
    # The per-pair tail runs as HOF loops, NOT a flat unrolled chain:
    # at ~450 nodes/pair the interpreted flat tree measured 42 s for
    # 4.7M pairs at ×10 where this zip_with/aggregate form does 8.2 s
    # with a bit-identical sum — the r9 "flat beats HOF" lesson applies
    # to expressions that CollapseProject re-evaluates per reference,
    # not to a once-referenced giant tree, where the compact reused
    # lambda wins. The fold is sequential from 0.0, ≡ DuckDB's
    # list_sum; the w·(sa·sb) operand order matches the oracle term.
    WL = literal_vector(Ws)
    tail = F.aggregate(
        F.zip_with(
            F.zip_with(
                F.col("_ca"),
                F.col("_cb"),
                lambda x, y: (x.cast("int") * y.cast("int")).cast("double"),
            ),
            WL,
            lambda p, w: w * p,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dot = F.lit(C0) + F.col("_psa") + F.col("_psb") + tail
    den = F.col("_dna") * F.col("_dnb")
    sq8cos = F.when(den > 0, dot / den).otherwise(F.lit(0.0))
    # pin the pair-join width: the code exchange is ~90 B/row, so AQE's
    # byte-based coalescing would run the ×|cell| per-pair scoring in
    # 1-2 tasks (measured 155 s single-task at ×10, r11)
    nparts = shuffle_partitions(df.sparkSession)
    cand = (
        a.repartition(nparts, F.col("cell"))
        .join(b.repartition(nparts, F.col("cell")), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sq8cos.alias("_sq8cos"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("_sq8cos"), F.col("neighbor_id")
    )
    shortlist = (
        cand.withColumn("_r", F.row_number().over(ws))
        .filter(F.col("_r") <= refine_k)
        .select("query_id", "neighbor_id")
    )

    # exact re-rank: two narrow id-keyed joins (n·refine_k shortlist
    # rows against the raw corpus — bucketed-by-id storage co-locates
    # these for free), then the final exact-cos window
    raw = df.select(
        F.col(id_col), F.col(vec_col), norm(vec_col).alias("_n")
    )
    ex = (
        shortlist.join(
            raw.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("_va"),
                F.col("_n").alias("_na"),
            ),
            "query_id",
        )
        .join(
            raw.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("_vb"),
                F.col("_n").alias("_nb"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenorm("_va", "_vb", "_na", "_nb").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.col("neighbor_id")
    )
    return (
        ex.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def label_relevance_eval(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
    scale: int = 6,
) -> DataFrame:
    """Retrieval-quality evaluation with label relevance: for each
    query vector, rank the corpus by cosine, treat same-label neighbors
    as relevant, and report precision@k / DCG / NDCG@k per query — the
    standard eval harness for an embedding model or ANN index (recall
    eval checks the INDEX against brute force; this checks the
    EMBEDDING against ground-truth labels).

    Output: (query_id, n_rel, precision_at_k, dcg, idcg, ndcg), one
    row per query.

    Plan: the query set broadcasts (an eval set is small by
    definition); the corpus is scored in one map pass and ranked by a
    query-partitioned window, so corpus rows shuffle ONCE keyed by
    query — never a global sort. Gain terms are rounded then summed as
    DECIMAL (order-independent), making DCG bit-deterministic and
    oracle-checkable; IDCG is the closed-form prefix sum of the ideal
    gain sequence, computed per query from n_rel alone.
    """
    from pyspark.sql import Window

    from kubernetes_logs_datalake_spark.functions.vectors import (
        cosine_prenorm,
        norm,
    )

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            norm(vec_col).alias("_qn"),
            F.col(label_col).alias("_ql"),
        )
    )
    pairs = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_rv"),
            norm(vec_col).alias("_rn"),
            F.col(label_col).alias("_rl"),
        )
        .crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine_prenorm("_qv", "_rv", "_qn", "_rn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.col("neighbor_id")
    )
    top = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn(
            "rel", (F.col("_rl") == F.col("_ql")).cast("int")
        )
    )
    dec = "decimal(20,9)"
    gain = F.round(
        F.col("rel") / F.log2(F.col("rank").cast("double") + 1.0), 9
    ).cast(dec)
    agg = top.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        F.sum(gain).alias("_dcg"),
    )
    ideal = F.when(F.col("n_rel") == 0, F.lit(0).cast(dec)).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(k)).cast("int")),
            F.lit(0).cast(dec),
            # re-cast the running sum: decimal addition widens the type
            # and aggregate() requires the merge to return the acc type
            lambda acc, j: (
                acc + F.round(1.0 / F.log2(j.cast("double") + 1.0), 9).cast(dec)
            ).cast(dec),
        )
    )
    out = agg.withColumn("_idcg", ideal)
    return out.select(
        "query_id",
        "n_rel",
        F.round(F.col("n_rel") / F.lit(float(k)), scale).alias(
            "precision_at_k"
        ),
        F.round(F.col("_dcg").cast("double"), scale).alias("dcg"),
        F.round(F.col("_idcg").cast("double"), scale).alias("idcg"),
        F.when(F.col("n_rel") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("_dcg").cast("double") / F.col("_idcg").cast("double"),
                scale,
            )
        )
        .alias("ndcg"),
    )


def _imi_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centers1: list[list[float]],
    centers2: list[list[float]],
    dim: int,
) -> DataFrame:
    """(id, vec, j1, j2) — product-quantizer coarse assignment for the
    inverted multi-index: the vector's FIRST half is argmin-assigned
    against ``centers1`` and its SECOND half against ``centers2``, in
    ONE map-only projection pass (both distance arrays materialize
    behind a single explode barrier — the ``kmeans_assign`` idiom, so
    the interpreted HOF folds run once per row, not once per
    downstream reference). Ties break to the lowest centroid index on
    each half, matching ``kmeans_assign``'s argmin exactly — each
    half's j is bit-identical to running ``kmeans_assign`` on the
    sliced corpus, which is what the DuckDB oracle replays."""
    from kubernetes_logs_datalake_spark.functions.vectors import (
        literal_vector as _lv,
    )

    h1 = dim // 2
    h2 = dim - h1
    k1, k2 = len(centers1), len(centers2)
    if any(len(c) != h1 for c in centers1):
        raise ValueError(f"centers1 must be dim {h1}")
    if any(len(c) != h2 for c in centers2):
        raise ValueError(f"centers2 must be dim {h2}")
    flat1: list[float] = []
    for c in centers1:
        flat1.extend(float(v) for v in c)
    flat2: list[float] = []
    for c in centers2:
        flat2.extend(float(v) for v in c)
    C1, C2 = _lv(flat1), _lv(flat2)
    vec = F.col(vec_col)
    va = F.slice(vec, 1, h1)
    vb = F.slice(vec, h1 + 1, h2)

    def d2s(v, C, k, h):
        return F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.aggregate(
                F.zip_with(
                    v,
                    F.slice(C, j * h + 1, h),
                    lambda x, c: (x.cast("double") - c)
                    * (x.cast("double") - c),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
        )

    mid = df.select(
        F.col(id_col),
        vec.alias("_v"),
        F.explode(
            F.array(
                F.struct(
                    d2s(va, C1, k1, h1).alias("a"),
                    d2s(vb, C2, k2, h2).alias("b"),
                )
            )
        ).alias("_d"),
    )
    da = F.col("_d").getField("a")
    db = F.col("_d").getField("b")
    return mid.select(
        F.col(id_col),
        F.col("_v").alias(vec_col),
        (F.array_position(da, F.array_min(da)) - 1).cast("int").alias("j1"),
        (F.array_position(db, F.array_min(db)) - 1).cast("int").alias("j2"),
    )


def imi_knn_join(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    cells_per_half: int = 8,
    iters: int = 3,
    centers: tuple[list[list[float]], list[list[float]]] | None = None,
    fit_sample_mod: int | None = None,
    split_cap: int | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """Corpus×corpus approximate kNN join through an INVERTED
    MULTI-INDEX coarse quantizer (Babenko & Lempitsky 2012): the
    vector splits into two halves, each half gets its own k-means
    codebook of ``cells_per_half`` (= K) centroids, and the cell is
    the PRODUCT (j1, j2) — K² cells from only 2·K·(dim/2) per-row
    assignment work. This is the Θ(n^4/3) upgrade over the flat IVF
    join's Θ(n^1.5) (SCALE.md round 12 "future work", now built):

    - flat IVF balances n·cells·dim assignment against (n²/cells)·dim
      pair work at cells = √n → both terms Θ(n^1.5·dim);
    - IMI with K = ∛n yields n^(2/3) product cells for n^(1/3)-wide
      codebooks → assignment n·2·∛n·(dim/2) = n^(4/3)·dim and pair
      work (n²/n^(2/3))·dim = n^(4/3)·dim — both terms Θ(n^(4/3)·dim).

    MEASURED two-regime result (SCALE.md round 12) — the asymptotic
    win has a precondition the theory hides: it holds only when the
    two half-assignments are near-INDEPENDENT. On a uniform corpus the
    product cells are fully occupied and balanced and the join runs
    2.2× faster than flat IVF (4.8 s vs 10.5 s at n=20k, holding at
    n=40k); on the organic clustered corpus component identity
    correlates the halves, the product collapses to ~#components
    occupied cells (81/729 measured), Σ|cell|² lands 1.7× WORSE than
    flat's, and the join runs ~2× slower. Recall-per-candidate also
    trails flat at small k (half-space cells see dim/2 of the signal).
    Deployment rule: flat √n + split_cap is the default join;
    reach for IMI when the subspaces decorrelate (or are rotated to,
    OPQ-style) and the regime is large-probe candidate generation.

    Same join contract as :func:`ivf_knn_join`: neighbors rank only
    within the (j1, j2) cell, output (query_id, neighbor_id, cos,
    rank ≤ k), recall measured not assumed (the recall harness and the
    organic-corpus panel, SCALE.md). The clustered-corpus imbalance is
    exactly what ``split_cap`` bounds: the composite cell id (j1·K₂+j2)
    feeds the same ``cellsplit.split_oversized_cells`` in-place
    refinement, so a hot product cell is sub-clustered before the
    pair join.

    Both half-fits run on the same deterministic md5-seeded Lloyd
    (``kmeans_fit`` over the sliced corpus; ``fit_sample_mod`` keeps
    the fit O(n) at scale, exact full-corpus below the same n<6400
    boundary the oracle guards).

    ``n_probe > 1`` is the IVF recall knob in its multi-index form:
    the query side explodes over its p nearest PRODUCT cells ranked by
    the sum of half-distances (``_imi_multi_probe_cells`` — the
    multi-sequence probing order; probe_rank=1 is bit-identical to the
    1-probe primary cell), the neighbor side stays at its primary
    cell so pairs are generated at most once, and under ``split_cap``
    probed rows replay the primary-side refinement via
    ``apply_cell_splits`` with probe semantics (hash-split parents
    explode, the r11 ADVICE rule) — the exact contract of
    ``ivf_knn_join``'s n_probe, on product cells.
    """
    from pyspark.sql import Window

    from kubernetes_logs_datalake_spark.functions.vectors import (
        cosine_prenorm,
        norm,
    )
    from kubernetes_logs_datalake_spark.operators.vectors import kmeans_fit

    h1 = dim // 2
    h2 = dim - h1
    if centers is not None:
        c1, c2 = centers
        if len(c1) != cells_per_half or len(c2) != cells_per_half:
            raise ValueError(
                f"centers widths ({len(c1)}, {len(c2)}) != "
                f"cells_per_half {cells_per_half}"
            )
    else:
        half1 = df.select(
            F.col(id_col), F.slice(F.col(vec_col), 1, h1).alias(vec_col)
        )
        half2 = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), h1 + 1, h2).alias(vec_col),
        )
        c1, _ = kmeans_fit(
            half1, id_col, vec_col, k=cells_per_half, iters=iters,
            fit_sample_mod=fit_sample_mod,
        )
        c2, _ = kmeans_fit(
            half2, id_col, vec_col, k=cells_per_half, iters=iters,
            fit_sample_mod=fit_sample_mod,
        )
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    composite = (F.col("j1") * F.lit(len(c2)) + F.col("j2")).cast("int")
    if n_probe > 1:
        # one assignment pass serves both sides: probe_rank=1 is the
        # primary product cell (the _imi_assign argmins), so the
        # neighbor side is the rank-1 filter of the same frame
        multi = _imi_multi_probe_cells(
            df, id_col, vec_col, c1, c2, dim, n_probe
        )
        multi = multi.withColumn(
            "cluster", composite
        ).localCheckpoint(eager=False)
        multi = multi.withColumn("cell", F.col("cluster").cast("string"))
        if split_cap is not None:
            from kubernetes_logs_datalake_spark.operators.cellsplit import (
                apply_cell_splits,
                split_oversized_cells,
            )

            _, cell_splits = split_oversized_cells(
                multi.filter(F.col("probe_rank") == 1),
                id_col, vec_col, cap=split_cap,
            )
            multi = apply_cell_splits(
                multi, vec_col, cell_splits, id_col=id_col,
                probe_col="probe_rank",
            )
        probed = multi.withColumn("_n", norm(vec_col))
        a = probed.select(
            "cell",
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_va"),
            F.col("_n").alias("_na"),
        )
        base = probed.filter(F.col("probe_rank") == 1)
    else:
        # composite cell id (bijective for 0 <= j2 < K2) so the
        # cellsplit guard and the pair join see one int key; one
        # materialization feeds both join sides (the semdedup shape)
        assigned = _imi_assign(df, id_col, vec_col, c1, c2, dim)
        assigned = assigned.withColumn(
            "cluster", composite
        ).localCheckpoint(eager=False)
        if split_cap is not None:
            from kubernetes_logs_datalake_spark.operators.cellsplit import (
                split_oversized_cells,
            )

            assigned, _ = split_oversized_cells(
                assigned, id_col, vec_col, cap=split_cap
            )
        else:
            assigned = assigned.withColumn(
                "cell", F.col("cluster").cast("string")
            )
        base = assigned.withColumn("_n", norm(vec_col))
        a = base.select(
            "cell",
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_va"),
            F.col("_n").alias("_na"),
        )
    # shared scoring tail for both probe regimes (a fix applied here —
    # tie-break, AQE-pinning — cannot diverge them; r12 review)
    b = base.select(
        "cell",
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    # pin the pair-join width past AQE byte-coalescing (the r11 lesson:
    # byte stats undersize stages whose per-row output work is ×|cell|)
    nparts = shuffle_partitions(df.sparkSession)
    a = a.repartition(nparts, F.col("cell"))
    b = b.repartition(nparts, F.col("cell"))
    scored = (
        a.join(b, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenorm("_va", "_vb", "_na", "_nb").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _imi_multi_probe_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centers1: list[list[float]],
    centers2: list[list[float]],
    dim: int,
    p: int,
) -> DataFrame:
    """(id, vec, j1, j2, probe_rank 1..p) exploded over each vector's
    ``p`` NEAREST product cells ranked by the SUM of half-distances
    d²₁(j1) + d²₂(j2) — the multi-sequence probing order of the
    inverted multi-index (Babenko & Lempitsky 2012), realized as pure
    expressions: the top-p pairs by sum are provably contained in the
    (top-p per half) × (top-p per half) grid (if j1 were outside its
    half's top-p, the p pairs swapping it for a better j1 would all
    rank ahead), so the per-row work is two sorted-slice passes of the
    ``_multi_probe_cells`` idiom plus a p² in-expression cross —
    never k1·k2 combinations. probe_rank=1 is the primary product cell,
    bit-identical to ``_imi_assign``'s per-half argmins (sum is
    minimized at the independent argmins; the (d, j1, j2) sort tie-break
    matches the per-half low-index rule). Map-only, no UDF."""
    from kubernetes_logs_datalake_spark.functions.vectors import (
        literal_vector as _lv,
    )

    h1 = dim // 2
    h2 = dim - h1
    k1, k2 = len(centers1), len(centers2)
    # per-HALF slice widths: the top-p pairs by sum live inside the
    # (top-min(p,k1) on half 1) × (top-min(p,k2) on half 2) grid — the
    # widths must be computed per half, not as one min(p, k1, k2):
    # with k1=2, k2=100, p=8 a single width of 2 would cross only 4
    # pairs and silently drop the true 3rd/4th-nearest j2 cells
    # (r12 review)
    pha = min(p, k1)
    phb = min(p, k2)
    if p > k1 * k2:
        raise ValueError(f"n_probe {p} > product cells {k1 * k2}")
    flat1: list[float] = []
    for c in centers1:
        flat1.extend(float(v) for v in c)
    flat2: list[float] = []
    for c in centers2:
        flat2.extend(float(v) for v in c)
    C1, C2 = _lv(flat1), _lv(flat2)
    vec = F.col(vec_col)
    va = F.slice(vec, 1, h1)
    vb = F.slice(vec, h1 + 1, h2)

    def d2_structs(v, C, k, h):
        return F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.struct(
                F.aggregate(
                    F.zip_with(
                        v,
                        F.slice(C, j * h + 1, h),
                        lambda x, c: (x.cast("double") - c)
                        * (x.cast("double") - c),
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ).alias("d"),
                j.cast("int").alias("j"),
            ),
        )

    topa = F.slice(F.array_sort(d2_structs(va, C1, k1, h1)), 1, pha)
    topb = F.slice(F.array_sort(d2_structs(vb, C2, k2, h2)), 1, phb)
    crossed = F.flatten(
        F.transform(
            topa,
            lambda a: F.transform(
                topb,
                lambda b: F.struct(
                    (a.getField("d") + b.getField("d")).alias("d"),
                    a.getField("j").alias("j1"),
                    b.getField("j").alias("j2"),
                ),
            ),
        )
    )
    mid = df.select(
        F.col(id_col),
        vec.alias("_v"),
        F.explode(
            F.array(F.slice(F.array_sort(crossed), 1, p))
        ).alias("_top"),
    )
    return mid.select(
        F.col(id_col),
        F.col("_v").alias(vec_col),
        F.posexplode(F.col("_top")).alias("_pos", "_probe"),
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("_probe").getField("j1").alias("j1"),
        F.col("_probe").getField("j2").alias("j2"),
        (F.col("_pos") + 1).cast("int").alias("probe_rank"),
    )
