"""``log_search``: an engineer running y-logcli searches.

Closed loop, one client, no think time, cycling a fixed query mix over
a static lake built during set-up: the native hive layout (written by
the package from parsed CRI lines, one write per time block so
partitions hold several files) and the reference's positional layout
(Parquet ``Timestamp(ns)`` + Feather/ZSTD int8-dictionary files under
``/<cluster>/<ns>/YYYY/MM/DD/<node>/<pod>/<container>/HH/MM/``)."""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from kubernetes_logs_datalake_spark.sources.arrow_ipc import write_arrow_file
from kubernetes_logs_datalake_spark.sources.cri import parse_cri_lines
from kubernetes_logs_datalake_spark.sources.logs import LogLake

from perfbench import gen
from perfbench.common import median, tail
from perfbench.loglayers import (
    CLUSTER, NODE, cri_source, ordered, probe_layers, query_layer_metrics, run_query, selector_text,
)

BLOCKS = {None: ("old", "mid", "recent"), "1h": ("mid", "recent"), "10m": ("recent",)}


def write_cri_blocks(root: str, table: pa.Table) -> None:
    """The records as CRI files, one directory per time block."""
    for block in ("old", "mid", "recent"):
        part = table.filter(pc.equal(table["block"], block))
        by_file: dict[str, list[str]] = {}
        for t, out, tag, msg, ns, pod, cont in zip(*(part[c].to_pylist() for c in (
                "time_ns", "stream", "logtag", "message", "namespace", "pod", "container"))):
            path = f"{root}/{block}/var/log/pods/{ns}_{pod}_uid/{cont}/0.log"
            by_file.setdefault(path, []).append(f"{gen.iso_ns(t)} {out} {tag} {msg}")
        for path, lines in by_file.items():
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                fh.write("\n".join(lines) + "\n")


def write_positional(root: str, table: pa.Table) -> None:
    """Reference-layout files: one per stream and ten-minute slot."""
    slot = pc.divide(table["time_ns"], pa.scalar(gen.SLOT_S * gen.NS, pa.int64()))
    table = table.append_column("slot", slot)
    keys = {(n, p, c, s) for n, p, c, s in zip(*(table[k].to_pylist() for k in ("namespace", "pod", "container", "slot")))}
    for ns, pod, cont, s in sorted(keys):
        part = table.filter(pc.and_(pc.and_(pc.equal(table["namespace"], ns), pc.equal(table["pod"], pod)),
                                    pc.and_(pc.equal(table["container"], cont), pc.equal(table["slot"], s))))
        ts = time.gmtime(s * gen.SLOT_S)
        d = (f"{root}/{CLUSTER}/{ns}/{ts.tm_year:04d}/{ts.tm_mon:02d}/{ts.tm_mday:02d}/{NODE}/{pod}/{cont}/"
             f"{ts.tm_hour:02d}/{ts.tm_min:02d}")
        os.makedirs(d, exist_ok=True)
        body = pa.table({
            "time": part["time_ns"].cast(pa.timestamp("ns")),
            "stream": part["stream"], "logtag": part["logtag"], "message": part["message"],
        })
        name = hashlib.md5(f"{ns}/{pod}/{cont}/{s}".encode()).hexdigest()
        pq.write_table(body, f"{d}/{name}.parquet")
        write_arrow_file(body, f"{d}/{name}.arrow")


def plan_mix(run, sts: list[gen.Stream], table: pa.Table) -> list[dict]:
    """Resolve the mix's selector kinds to seeded streams and compute
    each query's exact expected record count."""
    rng = np.random.default_rng(run.seed + 1)
    cols = {c: table[c].to_pylist() for c in ("namespace", "pod", "container", "block")}
    out = []
    for spec in run.cfg["mix"]:
        st = sts[int(rng.integers(len(sts)))]
        sel = {"cluster": {}, "namespace": {"namespace": st.namespace},
               "pod": {"namespace": st.namespace, "pod": st.pod},
               "container": {"namespace": st.namespace, "pod": st.pod, "container": st.container}}[spec["select"]]
        blocks = BLOCKS[spec["since"]]
        n = sum(
            1 for i in range(table.num_rows)
            if cols["block"][i] in blocks and all(cols[k][i] == v for k, v in sel.items())
        )
        out.append({**spec, "selector": selector_text(sel), "expect": n * (2 if spec["fmt"] == "both" else 1)})
    return out


def setup(run) -> dict:
    cfg = run.cfg
    now_ns = time.time_ns()
    t0 = time.perf_counter()
    sts, table = gen.search_records(run.seed, cfg, now_ns)
    run.setup["inputs_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    cri_dir, native, positional = run.path("cri"), run.path("native"), run.path("positional")
    write_cri_blocks(cri_dir, table)
    lake = LogLake(native)
    for block in ("old", "mid", "recent"):
        parsed = parse_cri_lines(cri_source(run.spark, f"{cri_dir}/{block}"), path_col="path",
                                 cluster=CLUSTER, node=NODE).persist()
        lake.write_batch(parsed, fmt="parquet")
        lake.write_batch(parsed, fmt="arrow")
        parsed.unpersist()
    run.setup["native_lake_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    write_positional(positional, table)
    lakes = {"native": lake, "positional": LogLake(positional, layout="positional")}
    mix = plan_mix(run, sts, table)
    run.setup["positional_lake_s"] = time.perf_counter() - t0
    st = {"lakes": lakes, "mix": mix, "cri_dir": cri_dir, "i": 0}
    t0 = time.perf_counter()
    for _ in mix:  # warm-up pass, checked like the timed ones
        one_query(run, st, "warmup")
    run.setup["warmup_s"] = time.perf_counter() - t0
    run.detail["records"] = table.num_rows
    run.detail["mix"] = [{k: q[k] for k in ("layout", "selector", "since", "fmt", "output", "expect")} for q in mix]
    return st


def one_query(run, st: dict, group: str):
    q = st["mix"][st["i"] % len(st["mix"])]
    st["i"] += 1
    try:
        res = run_query(run, st["lakes"][q["layout"]], q["selector"], q["since"], q["fmt"], q["output"],
                        time.perf_counter(), group)
        problems = ordered(res.records)
        if len(res.records) != q["expect"]:
            problems.append(f"{q['selector']} -f {q['fmt']} -o {q['output']}: "
                            f"{len(res.records)} records, expected {q['expect']}")
    except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
        res, problems = None, [f"{type(exc).__name__}: {exc}"]
    return q, res, run.checks.record(group, problems)


def measure(run, st: dict) -> dict:
    """Whole passes over the mix. A query's latency is the median of its
    samples; the run's figures average the mix's queries, so each run
    weighs every query alike whatever the number of passes."""
    mix = st["mix"]
    firsts = [[] for _ in mix]
    lasts = [[] for _ in mix]
    records, per_mode = 0, {}
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < run.seconds:
        for k in range(len(mix)):
            q, res, ok = one_query(run, st, f"q-{st['i']}")
            if ok:
                firsts[k].append(res.first_s)
                lasts[k].append(res.last_s)
                records += len(res.records)
                per_mode.setdefault(q["output"], []).append(res)
    elapsed = time.perf_counter() - t0
    st["per_mode"] = per_mode
    every = [x for xs in lasts for x in xs]
    t_tail, pct, beyond = tail(every)
    run.detail.update({"last_s": lasts, "first_s": firsts, "sample_tail_s": t_tail,
                       "sample_tail_pct": pct, "sample_tail_beyond": beyond})
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    return {
        "p50_s": mean([median(xs) for xs in lasts]),
        "tail_s": mean([max(xs, default=float("nan")) for xs in lasts]),
        "first_p50_s": mean([median(xs) for xs in firsts]),
        "throughput_per_s": records / elapsed,
    }


def layers(run, st: dict) -> dict:
    out = query_layer_metrics(st["per_mode"])
    out.update(probe_layers(run, st["cri_dir"], st["lakes"]["native"].root, st["lakes"]["positional"].root))
    return out
