#!/usr/bin/env python
"""Correctness-ledger report: fold every CORRECTNESS_r*.json into
per-query driver-check history and print what the next rotation window
should lead with — never-checked queries first, then the stalest green
rows. This is the computation the `_R*_WINDOW` comment in
`__spark_entry__.py` documents; run it when planning a round.

A round is usually the correctness gate's check of the current
50-query window.
It may also be a full-registry local re-check, written by
``python tools/check_correctness.py --record CORRECTNESS_rNN.json``
(rows carry ``source: "tools/check_correctness.py sf0.01"``). That is
the only way back from a skipped rotation: once a round lands without
its planned rotation, the next round can face more breaching rows than
the window holds. r16 re-ran the r15 window instead of rotating in
plans["16"], so at r17 the 32 r11-vintage and 47 r12-vintage rows were
all past the horizon. Guard 2 needs each of them in plans["17"] and
guard 3 needs plans["17"] inside the window, i.e. 79 rows in 50 slots;
relabelling a rotated window as the already-run r16 would pass the
guards on a false round number. CORRECTNESS_r17.json is such a
re-check of all registered queries.

Usage: python tools/ledger.py [--stale N]   (N = how many stale rows to list)
"""

from __future__ import annotations

import glob
import json
import os
import sys

# the checkout this tool belongs to, wherever it was cloned
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: the freshness invariant the verdicts audit: every query's newest
#: green driver row must be at most this many rounds old. Enforced at
#: window-planning time by main() (exit 1 on a would-be breach) and by
#: the registry lint in tests/test_round11_ops.py.
MAX_STALE_ROUNDS = 4

#: committed rotation plan (r12 verdict task #2): maps round -> the
#: rows that round's window MUST include. Relative to cwd, like the
#: CORRECTNESS_r*.json artifacts.
PLAN_FILE = "NEXT_WINDOW.json"


def _load_plan() -> dict:
    try:
        with open(PLAN_FILE) as f:
            return json.load(f).get("plans", {})
    except FileNotFoundError:
        return {}


def _load_retired() -> dict:
    """The registry-capacity policy's retirement map (r14 verdict task
    #2): NEXT_WINDOW.json's top-level ``retired`` maps a deregistered
    row name -> reason + named successors. Retired rows are exempt
    from plan-implementation debt (guard 3) — the committed plans that
    predate the retirement stay untouched as history — and drop out of
    staleness/budget arithmetic naturally because they are no longer
    registered."""
    try:
        with open(PLAN_FILE) as f:
            return json.load(f).get("retired", {})
    except FileNotFoundError:
        return {}


def main() -> int:
    n_stale = 40
    if "--stale" in sys.argv:
        n_stale = int(sys.argv[sys.argv.index("--stale") + 1])

    import __spark_entry__ as entrymod

    hist: dict[str, list] = {}
    rounds: list[int] = []
    for f in sorted(glob.glob("CORRECTNESS_r*.json")):
        rnd = int(f.split("_r")[1].split(".")[0])
        rounds.append(rnd)
        for name, row in json.load(open(f)).items():
            hist.setdefault(name, []).append((rnd, row))

    registered = list(entrymod._all_queries())
    no_oracle = set(getattr(entrymod, "_NO_ORACLE_SIBLINGS", {}))

    never = [q for q in registered if q not in hist]
    last_green: dict[str, int] = {}
    last_err: dict[str, str] = {}
    for q, rows in hist.items():
        for rnd, row in rows:
            ok = row.get("hash_match") or (
                q in no_oracle and row.get("rows_match")
            )
            if ok:
                last_green[q] = max(last_green.get(q, 0), rnd)
            elif row.get("err"):
                last_err[q] = f"r{rnd}: {row['err'][:80]}"

    checked_never_green = [
        q for q in registered if q in hist and q not in last_green
    ]
    stale = sorted(
        ((last_green[q], q) for q in registered if q in last_green),
        key=lambda t: (t[0], t[1]),
    )

    print(f"rounds seen: {rounds}")
    print(f"registered: {len(registered)}; with any driver row: "
          f"{sum(q in hist for q in registered)}; green: {len(last_green)}")
    print(f"\nnever driver-checked ({len(never)}) — lead the next window:")
    for q in never:
        print(f"  {q}")
    if checked_never_green:
        print(f"\nchecked but NEVER green ({len(checked_never_green)}) — "
              f"these are failures or rows-only contracts:")
        for q in checked_never_green:
            note = " [no-oracle contract]" if q in no_oracle else ""
            err = f"  last err {last_err[q]}" if q in last_err else ""
            print(f"  {q}{note}{err}")
    print(f"\nstalest green rows (top {n_stale}):")
    for rnd, q in stale[:n_stale]:
        print(f"  r{rnd}  {q}")

    # guard 1: the CURRENT window (first 50 queries()) must contain
    # every never-checked query — the invariant each rotation restores
    window = list(entrymod.queries())[:50]
    rc = 0
    missed = [q for q in never if q not in window]
    if missed:
        print(f"\nWARNING: {len(missed)} never-checked queries are NOT "
              f"in the current 50-query window: {missed}")
        rc = 1
    else:
        print(f"\nwindow OK: all {len(never)} never-checked queries are "
              f"in the current 50-query driver window")

    # guard 2 (r10 verdict item 5 — the staleness rule, mechanized):
    # a green row older than MAX_STALE rounds that is ALSO absent from
    # the current window will breach the ≤MAX_STALE freshness invariant
    # when this round's driver run lands — fail NOW, at planning time,
    # not in the next verdict. The horizon counts from the round the
    # upcoming run will record (max seen + 1). With an empty history
    # (fresh clone) nothing can be stale — skip the guard (ADVICE r11).
    #
    # r12 verdict task #2 (plan-aware exit): the driver's artifact for
    # round N lands AFTER the builder's last commit, so the cohort that
    # expires at N's judging horizon is breaching at judge time by
    # construction — the builder cannot pre-rotate rows into a window
    # the driver has already consumed. The committed NEXT_WINDOW.json
    # plan closes this: a breach exits 0 IFF every breaching row is in
    # plans[max+1].must_include (the builder has already committed to
    # rotating it in next round); guard 3 below makes the plan binding.
    plan = _load_plan()
    breaches = []
    if rounds:
        breaches = [
            (rnd, q)
            for rnd, q in stale
            if rnd < (max(rounds) + 1) - MAX_STALE_ROUNDS and q not in window
        ]
    if breaches:
        nxt_plan = plan.get(str(max(rounds) + 1), {}) if rounds else {}
        committed = set(nxt_plan.get("must_include", []))
        uncovered = [(rnd, q) for rnd, q in breaches if q not in committed]
        if not uncovered:
            print(f"\nstaleness OK (plan-covered): {len(breaches)} rows "
                  f"breach the horizon but every one is in the committed "
                  f"NEXT_WINDOW plan for r{max(rounds) + 1} — the next "
                  f"rotation is already bound to re-green them")
        else:
            print(f"\nSTALENESS BREACH: {len(uncovered)} green rows are >"
                  f"{MAX_STALE_ROUNDS} rounds old, not in the current "
                  f"window, and not covered by a committed NEXT_WINDOW "
                  f"plan — rotate them in or commit the plan:")
            for rnd, q in uncovered:
                print(f"  r{rnd}  {q}")
            rc = 1
    else:
        print(f"staleness OK: every green row is either <= "
              f"{MAX_STALE_ROUNDS} rounds old after the upcoming run or "
              f"in the current window")

    # guard 3 (r12 verdict task #2, second half): the plan is a real
    # forcing function only if the window that claims round R actually
    # implements plans[R] — otherwise a plan could excuse a breach
    # forever without the rotation ever happening.
    wr = getattr(entrymod, "_WINDOW_ROUND", None)
    retired = _load_retired()
    if wr is not None and str(wr) in plan:
        owed = [q for q in plan[str(wr)].get("must_include", [])
                if q not in window and q not in retired]
        if owed:
            print(f"\nPLAN NOT IMPLEMENTED: the r{wr} window omits "
                  f"{len(owed)} rows its committed plan promised: {owed}")
            rc = 1
        else:
            exempt = [q for q in plan[str(wr)].get("must_include", [])
                      if q in retired]
            note = (f" ({len(exempt)} retired-exempt: {exempt})"
                    if exempt else "")
            print(f"plan OK: the r{wr} window implements all "
                  f"{len(plan[str(wr)].get('must_include', []))} rows of "
                  f"its committed NEXT_WINDOW plan{note}")

    # retirement-consistency guard: a name in the retired map that is
    # STILL registered would let the map excuse plan debt for a live
    # row — the exemption only applies to genuinely deregistered rows
    zombie = [q for q in retired if q in registered]
    if zombie:
        print(f"\nRETIREMENT INCONSISTENT: {len(zombie)} retired names "
              f"are still registered: {zombie}")
        rc = 1

    # forward budget (r11 verdict task #1): with a 50-slot window and a
    # ≤MAX_STALE-round horizon, each future round's window must absorb
    # the vintage expiring that round; whatever is left over is the
    # budget for NEW or voluntarily-refreshed queries. Registry growth
    # has to be planned against this (ceiling ≈ 50 × (MAX_STALE + 1))
    # or the staleness rule breaches mathematically.
    if rounds:
        # rows sitting in the CURRENT window will be re-greened by the
        # upcoming run, so their vintage becomes r(max+1) — projecting
        # their OLD vintage forward would overstate expirations and
        # understate free slots (r12 review)
        vintage: dict[int, int] = {}
        nxt = max(rounds) + 1
        reg_set = set(registered)
        for q, g in last_green.items():
            if q not in reg_set:
                continue  # retired/deregistered rows carry no debt
            eff = nxt if q in window else g
            vintage[eff] = vintage.get(eff, 0) + 1
        print(f"\nforward new-query budget (window 50, horizon "
              f"{MAX_STALE_ROUNDS}; ceiling ~{50 * (MAX_STALE_ROUNDS + 1)}"
              f" registered; assumes the upcoming run re-greens the "
              f"current window):")
        for future in range(nxt + 1, nxt + 4):
            expiring = vintage.get(future - 1 - MAX_STALE_ROUNDS, 0)
            print(f"  r{future}: {expiring} rows expire -> "
                  f"{max(0, 50 - expiring)} free slots")
        # the sustainable-ceiling arithmetic, visible at planning time
        # (r14 verdict task #2): every registered green row must be
        # re-greened once per (horizon+1) rounds by a 50-row window,
        # so steady state needs registry <= 50*(horizon+1); the margin
        # line is how much headroom the capacity policy has left
        n_reg_green = sum(1 for q in last_green if q in reg_set)
        ceiling = 50 * (MAX_STALE_ROUNDS + 1)
        per_round = n_reg_green / (MAX_STALE_ROUNDS + 1)
        print(f"capacity: registry {len(registered)} "
              f"({n_reg_green} green-tracked, "
              f"{len(registered) - n_reg_green} rows-only/new; "
              f"{len(_load_retired())} retired) vs ceiling {ceiling} "
              f"= 50 x (horizon {MAX_STALE_ROUNDS} + 1); steady-state "
              f"re-green load ~{per_round:.1f}/round -> "
              f"~{50 - per_round:.1f} slots/round for new rows + "
              f"pre-refresh smoothing")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
