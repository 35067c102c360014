#!/usr/bin/env python3
"""Self-tests of the benchmark's own parts; no engine needed.

    python3 olapbench/selftest.py

1. btc_ledger generator: the same seed gives the same content hash, a
   different seed a different one.
2. Output check: a planted wrong row (one changed cell, or one extra row)
   fails the comparison, a reordered but equal result passes, and a float
   drift beyond 1e-9 relative fails.
3. Known mismatches: a result off in the recorded column by no more than
   the recorded difference is the known mismatch; a larger difference, a
   difference in another column or a missing row is not.
"""
import os
import sys
import tempfile
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import btcgen  # noqa: E402
import check  # noqa: E402
import run  # noqa: E402


def main():
    fails = []
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        _, h1 = btcgen.generate(os.path.join(tmp, "a"), 7, 20_000)
        _, h2 = btcgen.generate(os.path.join(tmp, "b"), 7, 20_000)
        _, h3 = btcgen.generate(os.path.join(tmp, "c"), 8, 20_000)
    if h1 != h2:
        fails.append(f"seed 7 twice gave {h1} and {h2}")
    if h1 == h3:
        fails.append("seeds 7 and 8 gave the same content")

    exp = pd.DataFrame({"k": [1, 2, 3], "name": ["a", "b", "c"], "v": [0.5, 1.25, 2.0]})
    same = exp.iloc[[2, 0, 1]].reset_index(drop=True)
    if not check.compare(same, exp)[0]:
        fails.append("a reordered equal result was rejected")
    if check.compare(check.plant_wrong_row(same), exp)[0]:
        fails.append("a planted wrong cell was accepted")
    arrays = pd.DataFrame({"xs": [[1, 2], [3]]})
    if check.compare(check.plant_wrong_row(arrays), arrays)[0]:
        fails.append("a planted extra row was accepted")
    drift = same.copy()
    drift.loc[0, "v"] = drift.loc[0, "v"] * (1 + 1e-8)
    if check.compare(drift, exp)[0]:
        fails.append("a 1e-8 relative float drift was accepted")

    known = {"column": "mink_avg_nll", "max_abs_diff": 1e-6}
    ref = pd.DataFrame({"doc": ["a", "b", "c"], "mink_avg_nll": [4.028124, 2.5, 1.75]})
    tie = ref.assign(mink_avg_nll=[4.028125, 2.5, 1.75])
    if check.compare(tie, ref)[0]:
        fails.append("a 1e-6 difference passed the plain check")
    if not check.known_mismatch(tie, ref, known)[0]:
        fails.append("the recorded 1e-6 tie was not recognised as the known mismatch")
    cases = {"a 3e-6 difference": ref.assign(mink_avg_nll=[4.028127, 2.5, 1.75]),
             "a changed key": tie.assign(doc=["a", "b", "d"]),
             "a missing row": tie.iloc[:2]}
    for what, bad in cases.items():
        if check.known_mismatch(bad, ref, known)[0]:
            fails.append(f"{what} passed as the known mismatch")

    # the val_7dp oracle variant rounds satoshi as Spark's HALF_UP does
    sats = [542843922, 542843925, 542843926, 149000000, 5]
    expr = run.SATOSHI["val_7dp"]
    got = [r[0] for r in check.duckdb.sql(
        f"SELECT {expr} FROM (SELECT unnest({sats}::BIGINT[]) AS satoshi)").fetchall()]
    want = [int(Decimal(v).scaleb(-1).quantize(Decimal(1), ROUND_HALF_UP).scaleb(1)) for v in sats]
    if got != want:
        fails.append(f"val_7dp rounds {sats} to {got}, not {want}")

    for f in fails:
        print(f"FAIL {f}")
    print("selftest " + ("failed" if fails else "passed"))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
