"""End-to-end slice: CRI lines → parse → native lake → LogQuery.

Mirrors the reference's e2e assertions (test.sh 7a/7b/7c/7f) and the
primary CLI flow `y-logcli --context=dev query '{namespace="qa"}'`.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kubernetes_logs_datalake_spark.plans import LogQuery, parse_selector
from kubernetes_logs_datalake_spark.plans.render import render
from kubernetes_logs_datalake_spark.sources import LogLake, parse_cri_lines

# Two pods in two namespaces; a same-second ns-ordered burst in pod b
# (ordering stress like the reference workload's 200-line burst).
CRI_FILES = {
    "/var/log/pods/qa_app-1_uid1/app/0.log": [
        "2024-01-15T10:30:45.123456789Z stdout F hello from qa 1",
        "2024-01-15T10:30:46.000000001Z stderr P partial line",
        "2024-01-15T10:31:45.500000000Z stdout F hello from qa 2",
    ],
    "/var/log/pods/default_web-9df_uid2/nginx/0.log": [
        "2024-01-15T10:30:45.999999999Z stdout F GET /",
        "2024-01-15T10:30:45.999999998Z stdout F GET /health",
        "not a cri line at all",
        "2024-01-15T10:32:00.000000000Z stderr F oops",
    ],
}


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake"))
    rows = [(path, line) for path, lines in CRI_FILES.items() for line in lines]
    raw = spark.createDataFrame(rows, ["path", "value"])
    records = parse_cri_lines(raw, path_col="path", cluster="dev", node="node-a")
    lk = LogLake(root)
    lk.write_batch(records, fmt="parquet")
    return lk


def test_parse_drops_non_cri_lines(spark, lake):
    df = lake.read(spark)
    assert df.count() == 6  # 7 lines - 1 unparseable


def test_ns_exact_roundtrip_through_lake(spark, lake):
    got = {
        r.message: r.time_ns
        for r in lake.read(spark).select("message", "time_ns").collect()
    }
    assert got["hello from qa 1"] == 1705314645123456789
    assert got["GET /health"] == 1705314645999999998


def test_path_dims_derived(spark, lake):
    row = (
        lake.read(spark, selectors={"pod": "web-9df"})
        .select("namespace", "pod", "container", "cluster")
        .first()
    )
    assert (row.namespace, row.pod, row.container, row.cluster) == (
        "default",
        "web-9df",
        "nginx",
        "dev",
    )


def test_logquery_selector_and_order(spark, lake):
    q = LogQuery(lake, cluster="dev", selectors=parse_selector('{namespace="qa"}'), fmt="parquet")
    msgs = [r.message for r in q.projected(spark).collect()]
    assert msgs == ["hello from qa 1", "partial line", "hello from qa 2"]


def test_logquery_ns_tiebreak_ordering(spark, lake):
    """Two events in the same microsecond must order by nanosecond."""
    q = LogQuery(
        lake, cluster="dev", selectors={"namespace": "default"}, fmt="parquet", output="raw"
    )
    msgs = [r.message for r in q.projected(spark).collect()]
    assert msgs == ["GET /health", "GET /", "oops"]


def test_logquery_output_modes(spark, lake):
    q = LogQuery(lake, cluster="dev", selectors={"namespace": "qa"}, fmt="parquet")
    full = q.projected(spark)
    assert full.columns == [
        "cluster", "namespace", "node", "pod", "container",
        "time", "stream", "logtag", "message",
    ]
    q.output = "columns"
    compact = q.projected(spark)
    assert compact.columns == ["time", "pod", "container", "stream", "message"]
    first = compact.first()
    assert first.time == "2024-01-15T10:30:45.123456789Z"  # ns-exact ISO

    q.output = "raw"
    assert [r for r in render(q.projected(spark), "raw")] == [
        "hello from qa 1", "partial line", "hello from qa 2",
    ]


def test_logquery_partition_pruning(spark, lake):
    """Selector equality on namespace must prune partitions at plan time."""
    q = LogQuery(lake, cluster="dev", selectors={"namespace": "qa"}, fmt="parquet")
    plan = q.df(spark)._jdf.queryExecution().executedPlan().toString()
    # Native layout → namespace is a partition column; the scan's
    # PartitionFilters must mention it (pruning, not post-filtering).
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "namespace" in pf and "cluster" in pf


def test_oracle_duckdb_same_result(spark, lake):
    """Cross-engine: DuckDB over the same lake files agrees."""
    duckdb = pytest.importorskip("duckdb")
    q = LogQuery(lake, cluster="dev", selectors={"namespace": "default"}, fmt="parquet")
    ours = [(r.message, r.time_ns) for r in q.df(spark).select("message", "time_ns").collect()]
    oracle = duckdb.sql(
        f"""
        SELECT message, time_ns FROM read_parquet('{lake.root}/**/*.parquet',
            hive_partitioning=true)
        WHERE namespace='default' AND cluster='dev' ORDER BY time_ns
        """
    ).fetchall()
    assert ours == [tuple(r) for r in oracle]


def test_both_formats_tolerates_parquet_only_lake(spark, lake):
    """-f both on a parquet-only lake degrades to the available format —
    loudly (a warning names the skipped side; silent shrink is banned)."""
    import pytest

    q = LogQuery(lake, cluster="dev", selectors={"namespace": "qa"}, fmt="both", output="raw")
    with pytest.warns(UserWarning, match="no arrow side"):
        df = q.projected(spark)
    msgs = [r.message for r in df.collect()]
    assert msgs == ["hello from qa 1", "partial line", "hello from qa 2"]


def test_positional_parquet_reference_file(spark, tmp_path):
    """Reference-written positional-layout parquet (TIMESTAMP_NS time
    column) reads with derived dims and exact ns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dest = (
        tmp_path / "ref" / "dev" / "qa" / "2024" / "01" / "15"
        / "n1" / "pod-x" / "app" / "10" / "30"
    )
    dest.mkdir(parents=True)
    table = pa.table(
        {
            "time": pa.array([1705314645123456789], pa.timestamp("ns")),
            "stream": ["stdout"],
            "logtag": ["F"],
            "message": ["pq ref"],
            "cluster": ["dev"],
        }
    )
    pq.write_table(table, str(dest / "0001.parquet"))
    lk = LogLake(str(tmp_path / "ref"), layout="positional")
    row = lk.read(spark, fmt="parquet", selectors={"pod": "pod-x"}, cluster="dev").first()
    assert row.time_ns == 1705314645123456789
    assert (row.namespace, row.node, row.container) == ("qa", "n1", "app")
    # no .arrow file matches the glob: -f both reads the Parquet side
    q = LogQuery(lk, cluster="dev", selectors={"pod": "pod-x"}, fmt="both", output="raw")
    with pytest.warns(UserWarning, match="no arrow side"):
        df = q.projected(spark)
    assert [r.message for r in df.collect()] == ["pq ref"]


def test_rolled_files_have_disjoint_time_ranges(spark, tmp_path):
    """Lake writes cluster by time: rolled files within a partition must
    cover disjoint time ranges so --since skips whole files/row groups."""
    import glob as globmod
    import random

    import pyarrow as pa
    import pyarrow.ipc as ipc
    import pyarrow.parquet as pq

    rng = random.Random(7)
    idx = list(range(3000))
    rng.shuffle(idx)
    raw = spark.createDataFrame(
        [
            (
                "/var/log/pods/qa_p_u/app/0.log",
                f"2024-01-15T10:{i // 60 % 60:02d}:{i % 60:02d}.{i:09d}Z stdout F m{i}",
            )
            for i in idx
        ],
        ["path", "value"],
    )
    lk = LogLake(str(tmp_path / "sorted"), max_records_per_file=1000)
    records = parse_cri_lines(raw, path_col="path", cluster="c")
    lk.write_batch(records)
    lk.write_batch(records, fmt="arrow")
    stats = []
    for f in globmod.glob(f"{lk.root}/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(c)
                for c in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(c).path_in_schema == "time_ns"
            )
            stats.append((col.statistics.min, col.statistics.max))
    stats.sort()
    assert len(stats) >= 3
    assert all(a[1] <= b[0] for a, b in zip(stats, stats[1:])), stats

    # every file of either format is time-sorted, and the files of one
    # format cover disjoint time ranges
    for ext, read in (
        ("parquet", pq.read_table),
        ("arrow", lambda f: ipc.open_file(pa.memory_map(f)).read_all()),
    ):
        spans = []
        for f in globmod.glob(f"{lk.root}/**/*.{ext}", recursive=True):
            ns = read(f).column("time_ns").to_pylist()
            assert ns == sorted(ns), f
            spans.append((ns[0], ns[-1]))
        spans.sort()
        assert len(spans) == 3, (ext, spans)
        assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), (ext, spans)


def _executed_nodes(df):
    """Every node of ``df``'s executed plan (after it ran), through
    adaptive query stages."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(p.plan())
        else:
            out.append(p)
            kids = p.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _metric(node, name: str) -> int:
    m = node.metrics().get(name)
    return int(m.get().value()) if m.isDefined() else 0


def _scans(df, fmt: str) -> list:
    """The file scans of one format in ``df``'s executed plan."""
    fmt_name = {"arrow": "binaryfile", "parquet": "parquet"}[fmt]
    return [
        n for n in _executed_nodes(df)
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and fmt_name in n.relation().fileFormat().toString().lower()
    ]


def _write_lines(spark, lake, lines, cluster, formats=("parquet", "arrow")):
    raw = spark.createDataFrame(lines, ["path", "value"])
    records = parse_cri_lines(raw, path_col="path", cluster=cluster, node="n1")
    for fmt in formats:
        lake.write_batch(records, fmt=fmt)


@pytest.fixture(scope="module")
def four_ns_arrow_lake(spark, tmp_path_factory):
    """Four namespaces of 50 records each, one Arrow file per namespace."""
    lk = LogLake(str(tmp_path_factory.mktemp("four_ns")))
    lines = [
        (f"/var/log/pods/ns{n}_app-1_uid/app/0.log", f"2024-01-15T10:30:{i:02d}.{n:09d}Z stdout F m{n}-{i}")
        for n in range(1, 5) for i in range(50)
    ]
    _write_lines(spark, lk, lines, "dev", formats=("arrow",))
    return lk


def test_arrow_query_decodes_only_selected_files_once(spark, four_ns_arrow_lake):
    """A one-namespace Arrow query lists 1 of 4 files and decodes its 50
    records once: partition filters prune before decode, and the sort's
    range sampling reads shuffle output instead of re-running Python."""
    q = LogQuery(four_ns_arrow_lake, cluster="dev", selectors={"namespace": "ns1"}, fmt="arrow")
    df = q.df(spark)
    rows = df.collect()
    assert len(rows) == 50 and [r.time_ns for r in rows] == sorted(r.time_ns for r in rows)
    decodes = [n for n in _executed_nodes(df) if n.getClass().getSimpleName() == "MapInArrowExec"]
    assert sum(_metric(n, "pythonNumRowsReceived") for n in decodes) == 50
    assert sum(_metric(n, "numFiles") for n in _scans(df, "arrow")) == 1


def test_arrow_scan_partition_pruning(spark, four_ns_arrow_lake):
    """Selector equality on cluster/namespace is a partition filter of
    the Arrow file scan, as on the Parquet side."""
    q = LogQuery(four_ns_arrow_lake, cluster="dev", selectors={"namespace": "ns1"}, fmt="arrow")
    plan = q.df(spark)._jdf.queryExecution().executedPlan().toString()
    scan = next(line for line in plan.splitlines() if "binaryFile" in line and "PartitionFilters" in line)
    pf = scan.split("PartitionFilters:")[1].split("]")[0]
    assert "namespace" in pf and "cluster" in pf


def test_partition_columns_are_strings_in_both_formats(spark, tmp_path):
    """All-digit partition values read back as written: cluster 123 and
    namespace 007 render as 123/007 from either format and from both."""
    lk = LogLake(str(tmp_path / "digits"))
    lines = [("/var/log/pods/007_app-1_uid/app/0.log", "2024-01-15T10:30:45.123456789Z stdout F d")]
    _write_lines(spark, lk, lines, "123")
    for fmt, n in (("parquet", 1), ("arrow", 1), ("both", 2)):
        q = LogQuery(lk, cluster="123", selectors={"namespace": "007"}, fmt=fmt, output="lines")
        out = list(render(q.projected(spark), "lines"))
        assert [x.strip() for x in out if x.strip().startswith(("cluster =", "namespace ="))] == [
            "cluster = 123", "namespace = 007",
        ] * n, (fmt, out)


def test_since_prunes_older_date_directories(spark, tmp_path):
    """--since bounds the date partition: a 1h query lists no file of an
    older date directory in either format, and keeps the recent rows."""
    import datetime as dt

    lk = LogLake(str(tmp_path / "dated"))
    recent = dt.datetime.now(dt.timezone.utc) - dt.timedelta(minutes=10)
    lines = [
        ("/var/log/pods/qa_app-1_uid/app/0.log", "2024-01-15T10:30:45.123456789Z stdout F old"),
        ("/var/log/pods/qa_app-1_uid/app/0.log", recent.strftime("%Y-%m-%dT%H:%M:%S.%f000Z") + " stdout F new"),
    ]
    _write_lines(spark, lk, lines, "dev")
    for fmt in ("parquet", "arrow"):
        df = LogQuery(lk, cluster="dev", since="1h", fmt=fmt).df(spark)
        assert [r.message for r in df.collect()] == ["new"], fmt
        (scan,) = _scans(df, fmt)
        assert "date" in scan.toString().split("PartitionFilters:")[1].split("]")[0], fmt
        assert _metric(scan, "numFiles") == 1, fmt


def test_both_formats_raises_on_corrupt_arrow_file(spark, tmp_path):
    """A corrupt .arrow file is a failure, not an absent format: -f both
    raises instead of warning and querying Parquet alone."""
    import glob as globmod
    import os
    import warnings

    lk = LogLake(str(tmp_path / "corrupt"))
    lines = [("/var/log/pods/qa_app-1_uid/app/0.log", "2024-01-15T10:30:45.123456789Z stdout F x")]
    _write_lines(spark, lk, lines, "dev")
    (good,) = globmod.glob(f"{lk.root}/**/*.arrow", recursive=True)
    with open(os.path.join(os.path.dirname(good), "junk.arrow"), "wb") as f:
        f.write(b"not an arrow file")
    q = LogQuery(lk, cluster="dev", fmt="both", output="raw")
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        with pytest.raises(Exception, match="not an Arrow IPC file"):
            q.projected(spark).collect()
    assert not [w for w in seen if "no arrow side" in str(w.message)]
