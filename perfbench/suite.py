"""``operator_suite``: the analytics operators over the lake's
neighbours — a fixed subset of the ``__spark_entry__.queries()``
registry over tables generated from the seed.

Closed loop: the subset runs in order, again and again. Each query is
materialized by ``collect()`` (results are at most 5 000
rows), so its output can be checked against a DuckDB-oracle hash
computed during set-up with the normalization of
``tools/check_correctness.py``."""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import __spark_entry__ as entry
from tools.check_correctness import TABLES, value_hash

from perfbench import gen
from perfbench.common import median


def oracle_hashes(data_dir: str, names: list[str]) -> dict[str, tuple[int, str]]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        sql = entry.oracle_sql()
        out = {}
        for name in names:
            tbl = con.execute(sql[name]).arrow()
            cols = tbl.column_names
            rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
            out[name] = (len(rows), value_hash(cols, rows))
        return out
    finally:
        con.close()


def execute(run, st: dict, name: str, group: str) -> tuple[float, tuple[int, str]]:
    """Run one query to its collected rows: (seconds, (rows, value hash))."""
    t0 = time.perf_counter()
    with run.tracer.span(f"operators.{name}", group):
        df = st["queries"][name](run.spark, st["data"])
        rows = [tuple(r) for r in df.collect()]
    return time.perf_counter() - t0, (len(rows), value_hash(df.columns, rows))


def one_query(run, st: dict, name: str, group: str) -> float | None:
    try:
        elapsed, got = execute(run, st, name, group)
        want = st["oracle"][name]
        problems = [] if got == want else [f"{name}: rows/hash {got} != oracle {want}"]
    except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
        elapsed, problems = None, [f"{name}: {type(exc).__name__}: {exc}"]
    return elapsed if run.checks.record(group, problems) else None


def setup(run) -> dict:
    cfg = run.cfg
    data = run.path("tables")
    t0 = time.perf_counter()
    gen.operator_tables(data, run.seed, cfg)
    run.setup["inputs_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    st = {"data": data, "queries": entry.queries(), "pass": 0}
    # DuckDB computes the oracle while one unchecked pass warms Spark up:
    # the queries leave most cores idle, and the run stays shorter.
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle = pool.submit(oracle_hashes, data, cfg["queries"])
        for name in cfg["queries"]:
            execute(run, st, name, "warmup")
        st["oracle"] = oracle.result()
    run.setup["oracle_warmup_s"] = time.perf_counter() - t0
    run.detail["oracle_rows"] = {k: v[0] for k, v in st["oracle"].items()}
    return st


def measure(run, st: dict) -> dict:
    names = run.cfg["queries"]
    samples: dict[str, list[float]] = {n: [] for n in names}
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < run.seconds:
        st["pass"] += 1
        for name in names:
            t = one_query(run, st, name, f"pass-{st['pass']}")
            if t is not None:
                samples[name].append(t)
    elapsed = time.perf_counter() - t0
    meds = {n: median(xs) for n, xs in samples.items()}
    run.detail.update({"passes": st["pass"], "query_s": samples, "query_median_s": meds})
    every = [x for xs in samples.values() for x in xs]
    return {
        "p50_s": sum(meds.values()),
        "tail_s": sum(max(xs, default=float("nan")) for xs in samples.values()),
        "first_p50_s": median(every),
        "throughput_per_s": len(every) / elapsed,
    }


def layers(run, st: dict) -> dict:
    st_self = run.tracer.self_times()
    return {f"op.{n}_s": median(st_self.get(f"operators.{n}", [])) for n in run.cfg["queries"]}
