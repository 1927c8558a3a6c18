"""``tools/check_correctness.py --record``: the rows it writes are in the
CORRECTNESS_rNN.json schema, and ``tools/ledger.py`` folds an oracle
row that passed as green."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIELDS = ["rows_match", "schema_match", "hash_match", "spark_rows",
          "oracle_rows", "err", "source"]


def test_record_rows_are_ledger_green(tmp_path):
    out = tmp_path / "CORRECTNESS_r01.json"
    p = subprocess.run(
        [sys.executable, "tools/check_correctness.py", "--record", str(out),
         "q1_pricing_summary", "approx_distinct_users"],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    rec = json.loads(out.read_text())
    assert set(rec) == {"q1_pricing_summary", "approx_distinct_users"}

    q1 = rec["q1_pricing_summary"]
    assert list(q1) == FIELDS
    assert q1["hash_match"] is True
    assert q1["rows_match"] is True and q1["schema_match"] is True
    assert q1["spark_rows"] == q1["oracle_rows"] == 6
    assert q1["err"] is None
    assert q1["source"] == "tools/check_correctness.py sf0.01"

    # oracle-less rows keep the shape earlier rounds recorded
    approx = rec["approx_distinct_users"]
    assert approx["err"] == "no_oracle"
    assert approx["rows_match"] is None and approx["hash_match"] is None
    assert approx["spark_rows"] > 0

    # the ledger's own fold, run over the record as the only round
    led = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "ledger.py")],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert "rounds seen: [1]" in led.stdout, led.stdout[-2000:]
    assert "with any driver row: 2; green: 1" in led.stdout, led.stdout[-2000:]
    assert "r1  q1_pricing_summary" in led.stdout
