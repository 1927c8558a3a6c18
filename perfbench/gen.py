"""Seeded input generators. Everything the program reads is made here
from the workload seed: CRI log files, the static search lake records
and the operator tables.

Every log message is a JSON object whose first field is the record's
own nanosecond timestamp (``{"ns":…,"seq":…}``), so any rendered line
can be checked for exact ns round-trip and ordering; ``seq`` numbers
the records of each pod/container stream from 0.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field

import numpy as np

NS = 1_000_000_000
WORDS = (
    "request handled cache miss upstream retry timeout connection reset "
    "user session token refresh queue depth batch flushed compaction done "
    "checkpoint written shard leader elected gc pause heap usage").split()
MSG_NS_RE = re.compile(r'\{"ns":(\d+),"seq":(\d+)')


def iso_ns(t_ns: int) -> str:
    sec, frac = divmod(t_ns, NS)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(sec)) + f".{frac:09d}Z"


class Filler:
    """Seeded word text that message bodies are sliced from."""

    def __init__(self, rng: np.random.Generator, words: int = 4000):
        self.text = " ".join(WORDS[i] for i in rng.integers(len(WORDS), size=words))

    def body(self, start: int, length: int) -> str:
        start %= len(self.text) - length
        return self.text[start:start + length]


def message(filler: Filler, t_ns: int, seq: int, pod: str, length: int, start: int) -> str:
    head = f'{{"ns":{t_ns},"seq":{seq},"pod":"{pod}","level":"{"info" if seq % 7 else "warn"}","msg":"'
    return head + filler.body(start, max(length - len(head) - 2, 1)) + '"}'


@dataclass(frozen=True)
class Stream:
    namespace: str
    pod: str
    uid: str
    container: str

    def log_dir(self, root: str) -> str:
        return os.path.join(
            root, "var/log/pods", f"{self.namespace}_{self.pod}_{self.uid}", self.container
        )


def streams(rng: np.random.Generator, namespaces: int, pods: int, containers: list[str]) -> list[Stream]:
    out = []
    for n in range(namespaces):
        for p in range(pods):
            suffix = "".join(rng.choice(list("bcdfghjklmnpqrstvwxz2456789"), 5))
            for c in containers:
                out.append(Stream(f"ns{n}", f"app{p}-{suffix}", f"uid{n:02d}{p:02d}", c))
    return out


@dataclass
class CriFile:
    """One generated CRI file and what the parser must make of it."""

    path: str
    stream: Stream
    lines: int = 0  # physical lines, malformed included
    rows: int = 0  # lines parse_cri_lines keeps
    f_rows: int = 0
    p_rows: int = 0
    records: list[tuple[int, int]] = field(default_factory=list)  # (seq, ns) per record, as in its message
    nbytes: int = 0


def write_cri_file(
    rng: np.random.Generator,
    path: str,
    st: Stream,
    t0_ns: int,
    step_ns: int,
    n_records: int,
    msg_len: tuple[int, int],
    partial_every: int = 0,
    malformed_every: int = 0,
) -> CriFile:
    """Write ``n_records`` CRI records for one container stream.

    Every ``partial_every``-th record is split into two ``P`` chunks and
    a closing ``F`` chunk (three rows, one ns-bearing); every
    ``malformed_every``-th record is followed by a line without the CRI
    shape, which the parser rejects."""
    cf = CriFile(path, st)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    filler = Filler(rng)
    steps = rng.integers(step_ns // 2, step_ns * 3 // 2, size=n_records).tolist()
    lengths = rng.integers(*msg_len, size=n_records).tolist()
    starts = rng.integers(1 << 30, size=n_records).tolist()
    lines = []
    t = t0_ns
    for seq in range(n_records):
        t += steps[seq]
        msg = message(filler, t, seq, st.pod, lengths[seq], starts[seq])
        out = "stderr" if seq % 11 == 0 else "stdout"
        cf.records.append((seq, t))
        if partial_every and seq % partial_every == partial_every - 1 and len(msg) > 60:
            a, b = len(msg) // 3, 2 * len(msg) // 3
            lines.append(f"{iso_ns(t)} {out} P {msg[:a]}")
            lines.append(f"{iso_ns(t + 1)} {out} P {msg[a:b]}")
            lines.append(f"{iso_ns(t + 2)} {out} F {msg[b:]}")
            cf.p_rows += 2
            cf.f_rows += 1
            t += 2
        else:
            lines.append(f"{iso_ns(t)} {out} F {msg}")
            cf.f_rows += 1
        if malformed_every and seq % malformed_every == malformed_every - 1:
            lines.append(f"malformed {seq} no cri prefix")
    text = "\n".join(lines) + "\n"
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)  # readers only ever see closed files
    cf.lines = len(lines)
    cf.rows = cf.f_rows + cf.p_rows
    cf.nbytes = len(text.encode())
    return cf


def backlog(root: str, seed: int, cfg: dict) -> list[CriFile]:
    """The ingest backlog: one CRI file per container stream."""
    rng = np.random.default_rng(seed)
    sts = streams(rng, cfg["namespaces"], cfg["pods_per_namespace"], cfg["containers"])
    base = cfg["base_time_ns"]
    out = []
    for i, st in enumerate(sts):
        n = int(cfg["lines_per_file"] * rng.uniform(0.8, 1.2))
        out.append(
            write_cri_file(
                rng, os.path.join(st.log_dir(root), "0.log"), st, base + i * NS, 1_000_000, n,
                tuple(cfg["message_bytes"]), cfg["partial_every"], cfg["malformed_every"],
            )
        )
    return out


# ------------------------------------------------------------ search lake


SLOT_S = 600  # positional layout: one file per stream and ten-minute slot


def in_one_slot(lo_ns: int, hi_ns: int) -> tuple[int, int]:
    """The largest part of ``[lo_ns, hi_ns)`` that lies in one slot."""
    slot = SLOT_S * NS
    parts = [(max(lo_ns, s * slot), min(hi_ns, (s + 1) * slot))
             for s in range(lo_ns // slot, (hi_ns - 1) // slot + 1)]
    return max(parts, key=lambda p: p[1] - p[0])


def search_records(seed: int, cfg: dict, now_ns: int):
    """Records of the static search lake as a pyarrow table.

    Each stream has three time blocks placed relative to ``now_ns`` so
    that every ``--since`` cutoff of the query mix falls in a data-free
    gap for the whole run: ``recent`` lies inside ``--since 10m``,
    ``mid`` inside ``--since 1h`` but not ``10m``, ``old`` outside both.
    The gaps are wider than any run is long, so result sizes are exact.
    Each block fills one ten-minute slot of its window and holds a fixed
    number of records per stream, so file counts and result sizes do
    not depend on the time of day or the seed.
    """
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    sts = streams(rng, cfg["namespaces"], cfg["pods_per_namespace"], cfg["containers"])
    filler = Filler(rng)
    blocks = [
        (block, in_one_slot(now_ns - lo_s * NS, now_ns - hi_s * NS), n)
        for block, (lo_s, hi_s), n in (
            ("old", cfg["old_window_s"], cfg["old_per_stream"]),
            ("mid", cfg["mid_window_s"], cfg["mid_per_stream"]),
            ("recent", cfg["recent_window_s"], cfg["recent_per_stream"]),
        )
    ]
    cols = {k: [] for k in ("time_ns", "stream", "logtag", "message", "namespace", "pod", "container", "block")}
    for st in sts:
        seq = 0
        for block, (lo_ns, hi_ns), n in blocks:
            ts = np.sort(rng.integers(lo_ns, hi_ns, size=n)).tolist()
            lengths = rng.integers(*cfg["message_bytes"], size=n).tolist()
            starts = rng.integers(1 << 30, size=n).tolist()
            for t, length, start in zip(ts, lengths, starts):
                cols["time_ns"].append(t)
                cols["stream"].append("stderr" if seq % 11 == 0 else "stdout")
                cols["logtag"].append("F")
                cols["message"].append(message(filler, t, seq, st.pod, length, start))
                cols["namespace"].append(st.namespace)
                cols["pod"].append(st.pod)
                cols["container"].append(st.container)
                cols["block"].append(block)
                seq += 1
    return sts, pa.table(cols)


# --------------------------------------------------------- operator tables
#
# The distributions follow the project's sf0.1 testdata column by column
# (profiled with DuckDB; the figures are in perfbench/README.md): uniform
# keys, dates and categories, TPC-H-style retail prices, extended prices
# independent of quantity, exponential event values of mean 50, events
# uniform over 30 days with ~67 per user, documents of 10-100 words from
# a 30-word vocabulary with 5% near duplicates (``<text> dup``, so two
# near duplicates of one document are exact copies), unit-norm 64-d
# Gaussian embeddings.

NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS, LANG_P = ("en", "zh", "es", "fr", "de"), (0.4, 0.15, 0.15, 0.15, 0.15)


def operator_tables(dest: str, seed: int, cfg: dict) -> None:
    """The TPC-H-like star schema plus events/documents/embeddings, in
    the column layout the registry queries read (one parquet file per
    table, ``<dest>/<name>.parquet``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(dest, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(dest, f"{name}.parquet"))

    def pick(values, n):
        return pa.array(np.asarray(values)[rng.integers(0, len(values), n)])

    def days(lo, hi, n):
        return pa.array(np.datetime64(lo, "ms") + rng.integers(0, hi, n).astype("timedelta64[D]"), pa.timestamp("ms"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    n_cust, n_supp, n_part = cfg["customers"], cfg["suppliers"], cfg["parts"]
    n_ord, n_line = cfg["orders"], cfg["lineitems"]
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    put("nation", {
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    })
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, NATIONS, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj, noun = pick(PART_ADJ, n_part).to_pylist(), pick(PART_NOUN, n_part).to_pylist()
    put("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    put("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days("1995-01-01", 2405, n_ord),
        "o_orderpriority": pick(PRIORITIES, n_ord),
    })
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": money(0, 0.1, n_line),
        "l_tax": money(0, 0.08, n_line),
        "l_returnflag": pick(("A", "N", "R"), n_line),
        "l_linestatus": pick(("F", "O"), n_line),
        "l_shipdate": days("1995-01-02", 2499, n_line),
    })
    n_ev = cfg["events"]
    ts = np.sort(rng.integers(0, 30 * 86400 * NS, n_ev)) + np.datetime64("2024-01-01", "ns").astype(np.int64)
    put("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, cfg["users"], n_ev), pa.int64()),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = cfg["documents"]
    words = np.asarray(DOC_WORDS)
    base = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]) for _ in range(n_doc)]
    near = rng.random(n_doc) < 0.05  # near duplicates; two of one document are exact copies
    of = rng.integers(0, n_doc, n_doc)
    texts = [base[j] + " dup" if d else t for t, d, j in zip(base, near, of.tolist())]
    put("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.asarray(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_emb = cfg["embeddings"]
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
