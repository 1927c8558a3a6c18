"""Physical-plan quality gates — the properties that matter at 100 TB.

These assert that Catalyst produces the plan we designed for, so a
refactor that silently breaks pushdown/broadcast/top-k strategy fails
CI rather than shipping a 100x regression.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

def plan_of(spark, name: str) -> str:
    # default metadata truncation (100 chars) hides ReadSchema/filters
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    df = entrymod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark):
    p = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    read_cols = m.group(1)
    # projection pruning: the scan must not read join keys it never uses
    assert "l_orderkey" not in read_cols
    assert "l_partkey" not in read_cols


def test_q6_pushes_all_predicates(spark):
    p = plan_of(spark, "q6_revenue_forecast")
    for token in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({token})" in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
    }


def test_q5_broadcasts_dimensions(spark):
    p = plan_of(spark, "q5_region_revenue")
    assert "BroadcastHashJoin" in p
    # no cartesian fallback anywhere in the star join
    assert "CartesianProduct" not in p


def test_topk_uses_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject (per-partition
    top-k + driver merge), never a global sort shuffle."""
    for name in ("topk_expensive_orders", "ann_topk_bruteforce", "events_top_users"):
        p = plan_of(spark, name)
        assert "TakeOrderedAndProject" in p, name


def test_aggregations_have_partial_phase(spark):
    """groupBy aggs must show two HashAggregate phases (map-side partial
    + final) so only partial states shuffle."""
    p = plan_of(spark, "events_hourly_rollup")
    assert p.count("HashAggregate") >= 2


def test_no_python_udfs_in_oracle_queries(spark, registry_frames):
    """Every oracle-checked query must stay JVM-side (no BatchEvalPython
    / ArrowEvalPython nodes) — Python appears only in explicitly
    Arrow-batched operators (multimodal, arrow sink)."""
    for name in entrymod.oracle_sql():
        p = registry_frames[name]._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in p, f"{name} fell back to a Python UDF"


def test_range_join_stays_equi_join(spark):
    """The bucketized range join must never degrade to a nested-loop or
    cartesian plan."""
    p = plan_of(spark, "range_join_error_context")
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_q7_q8_broadcast_dims_no_cartesian(spark):
    """The two-nation-alias TPC-H shapes must broadcast every dimension
    and never fall back to a cartesian/nested-loop despite the self-
    joined nation table appearing twice."""
    for name in ("q7_nation_volume", "q8_market_share"):
        p = plan_of(spark, name)
        assert "BroadcastHashJoin" in p, name
        assert "CartesianProduct" not in p, name
        assert "NestedLoop" not in p, name


def test_no_forced_broadcast_of_fact_tables():
    """No query may force-broadcast an SF-scaled table (customer, part,
    orders, lineitem, supplier, events, documents, embeddings). A forced
    hint bypasses AQE's size threshold: fine at sf0.1, executor OOM at
    100x. Only the fixed-cardinality dims (region: 5 rows, nation: 25)
    may be hinted; everything SF-scaled leaves the choice to AQE, which
    still picks broadcast at runtime when the filtered side is small.

    Source-level gate because a plan-level one can't distinguish an
    explicit hint from AQE's own (legitimate) size-based broadcast.
    Catches hints through a variable binding (possibly rebound through
    derived frames, matched conservatively by variable name) AND the
    inline form F.broadcast(_t(spark, sf, "<fact>"))."""
    import inspect

    fact_tables = {
        "customer", "part", "orders", "lineitem", "supplier",
        "events", "documents", "embeddings",
    }
    for name, fn in entrymod.queries().items():
        src = inspect.getsource(fn)
        inline = re.findall(r'F\.broadcast\(\s*_t\(spark,\s*sf,\s*"(\w+)"', src)
        for tbl in inline:
            assert tbl not in fact_tables, (
                f"{name} force-broadcasts fact-scaled table {tbl!r} inline"
            )
        binds = re.findall(r'(\w+)\s*=\s*_t\(spark,\s*sf,\s*"(\w+)"\)', src)
        for var, tbl in binds:
            if tbl in fact_tables:
                assert f"F.broadcast({var})" not in src, (
                    f"{name} force-broadcasts fact-scaled table {tbl!r} (var {var})"
                )


def test_embedding_lsh_no_nested_loop(spark):
    """The LSH embedding-dedup scale path must be banded equi-joins —
    never the all-pairs BroadcastNestedLoopJoin that the brute-force
    oracle (dedup_embedding) deliberately uses."""
    p = plan_of(spark, "dedup_embedding_lsh")
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_no_unpartitioned_window_in_contract_queries(spark, registry_frames):
    """No contract query may contain an unpartitioned WindowExec — the
    plan shape that moves the ENTIRE input to one partition (Spark
    itself warns 'serious performance degradation'). An unpartitioned
    window compiles to `Window <- Sort <- Exchange SinglePartition`, so
    we flag any `Exchange SinglePartition` in the few lines under a
    Window node. (This gate would have caught r2's global-ntile
    doc_length_bins.)"""
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    for name, df in registry_frames.items():
        lines = (
            df._jdf.queryExecution().executedPlan().toString().splitlines()
        )
        for i, line in enumerate(lines):
            if "Window " not in line:
                continue
            below = "\n".join(lines[i + 1 : i + 4])
            assert "Exchange SinglePartition" not in below, (
                f"{name} has an unpartitioned Window (single-partition sort)"
            )


def test_registry_canon_hashable_output_types(registry_frames):
    """Driver-canon gate: no registered query may emit a top-level
    array/map/struct column. The driver's pandas canonicalization
    hashes scalar cells, so a nested output type is a guaranteed red
    row even when values are correct (r8's only red,
    embedding_sq8_codes: `unhashable type: 'list'` on array<int>).
    Complex payloads ride as joined strings or hex instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    for name, df in registry_frames.items():
        for f in df.schema.fields:
            assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
                f"{name}.{f.name} has driver-unhashable type {f.dataType.simpleString()}"
            )


def test_arrow_ann_is_batched_not_row_at_a_time(spark):
    """The Arrow ANN path must be a MapInArrow stage (Arrow record
    batches into numpy) — never BatchEvalPython (row-at-a-time pickling,
    the ~100x-slower shape this repo bans)."""
    p = plan_of(spark, "ann_topk_arrow")
    assert "MapInArrow" in p, "ann_topk_arrow lost its Arrow batch stage"
    assert "BatchEvalPython" not in p


def test_resize_images_is_batched_not_row_at_a_time(spark):
    """The media resize stage must be MapInPandas (Arrow-batched) —
    never BatchEvalPython."""
    from kubernetes_logs_datalake_spark.operators.multimodal import resize_images

    df = spark.createDataFrame([(1, b"P5\n1 1\n255\n\x00")], "media_id long, payload binary")
    p = resize_images(df, 2, 2)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p


def test_asof_join_single_window_shuffle(spark):
    """The as-of join is one window pass — no join operators at all."""
    p = plan_of(spark, "asof_purchase_click")
    assert "WindowExec" in p or "Window" in p
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "NestedLoop"):
        assert bad not in p, f"asof join introduced {bad}"


def test_classifier_is_map_only(spark):
    """Classifier inference must be a pure map stage: zero exchanges,
    zero joins — the weight table rides the plan as a literal."""
    p = plan_of(spark, "docs_classifier_score")
    assert "Exchange" not in p
    assert "Join" not in p


def test_char_lm_scoring_side_is_map_only(spark):
    """r16: the char-LM model grid (≤37² rows) collects to the driver
    and rides the scan as a constant-folded decimal-array literal —
    the corpus side must be MAP-ONLY: no join, no exchange, no
    per-transition explode. (Supersedes the pre-r16 broadcast-join
    pin: the model must STILL never shuffle the corpus, now it must
    not join at all.)"""
    p = plan_of(spark, "docs_char_lm_score")
    assert "BroadcastHashJoin" not in p
    assert "SortMergeJoin" not in p
    assert "Exchange" not in p
    assert "Generate" not in p


def test_multiline_reassembly_single_shuffle_at_contract(spark):
    """The full contract query (explode + window + groupBy) must keep
    the one-shuffle property: the record groupBy reuses the window's
    hash partitioning (its key is a superset)."""
    p = plan_of(spark, "cri_multiline_roundtrip")
    assert p.count("Exchange") == 1


def test_hopping_rollup_single_shuffle(spark):
    """The hopping-window rollup must be: scan → constant-factor explode
    → map-side partial agg → ONE exchange → final agg. The window
    expansion must never introduce a second shuffle or a sort."""
    p = plan_of(spark, "events_hopping_rollup")
    assert p.count("HashAggregate") >= 2  # partial + final
    assert p.count("Exchange") == 1
    assert "explode(sequence" in p  # constant window-index expansion


def test_chunk_passages_is_map_only(spark):
    """Passage chunking is a pure map stage: one tokenization, HOF
    window arithmetic, one posexplode — no shuffle anywhere."""
    p = plan_of(spark, "docs_chunk_passages")
    assert "Exchange" not in p
    assert "posexplode" in p


def test_common_ngrams_topk_take_ordered(spark):
    """The corpus phrase table's global top-k must compile to
    TakeOrderedAndProject (per-partition local k + driver merge), never
    a global sort of the gram table."""
    p = plan_of(spark, "docs_common_ngrams")
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no global SortExec stage


def test_semdedup_pair_stage_is_equi_join(spark):
    """SemDeDup's pair explosion must stay INSIDE k-means cells — a
    cluster-keyed equi-join, never an all-pairs nested loop (that would
    be the O(n²) brute force the clustering exists to avoid)."""
    p = plan_of(spark, "dedup_semantic")
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_fuzzy_join_no_cross_join(spark):
    """The cross-table fuzzy join must stay a shingle equi-join — the
    inverted index exists precisely to avoid the |L|x|R| cross join."""
    p = plan_of(spark, "docs_snippet_lookup")
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_gopher_family_single_scan(spark):
    """The Gopher verdicts / source report / clean export must read the
    corpus exactly ONCE (verdicts ride the scan via carry_cols) — a
    join-back to the corpus would double the scan and was the round-6
    review finding that motivated carry_cols."""
    for name in (
        "docs_gopher_quality",
        "docs_source_report",
        "docs_clean_export",
    ):
        p = plan_of(spark, name)
        assert p.count("Scan parquet") == 1, (
            f"{name} scans the corpus {p.count('Scan parquet')} times"
        )


def test_gopher_quality_is_map_only(spark):
    """The quality gate is the pipeline's FIRST pass over 100 TB — it
    must stay a pure map stage (zero exchanges)."""
    p = plan_of(spark, "docs_gopher_quality")
    assert "Exchange" not in p


def test_ivf_knn_join_equi_join_plan(spark):
    """The IVF kNN pair stage must be a cluster-keyed equi-join, never
    the all-pairs nested loop the cell structure exists to avoid."""
    p = plan_of(spark, "embedding_ivf_knn_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_vector_ops_keep_generate_barriers(spark):
    """The interpreted-HOF family must keep its single-element explode
    barriers: without the Generate node, CollapseProject inlines each
    computed distance/code array into every downstream reference and
    the k-fold work runs 2-3x per row (SCALE.md round 9 — measured
    1.04->0.40 s for kmeans_assign, 1.36->0.90 s for IVFADC at x10)."""
    for name in (
        "embedding_kmeans",
        "embedding_pq_codes",
        "ann_topk_pq",
        "ann_topk_ivfpq",
        "embedding_quantize_int8",
    ):
        p = plan_of(spark, name)
        assert "Generate explode" in p, f"{name} lost its explode barrier"
