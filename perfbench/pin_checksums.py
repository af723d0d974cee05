"""Reproduce the pinned ``score_long`` checksums without Spark.

DuckDB's ``levenshtein`` and ``jaro_winkler_similarity`` are an
implementation independent of rapidfuzz_spark. Every text in the corpus is
ASCII, so DuckDB's byte-based semantics agree with the package's
codepoint-based ones. DuckDB has no indel ratio, so the ratio>=0.55 figures
come from ``rapidfuzz_spark.api.fuzz.ratio``, the scalar (non-batch,
non-Spark) path, over every pair the exact length bound leaves open.

Checksums are pinned for the full blocked pair set and for the fixed subset
that one ``score_long`` job scores (``(id_1 + id_2) % subset_mod == 0``).
``subset_mod`` is read from ``checksums.json``; to change the subset, edit
that field and rerun with ``--write``.

    python3 perfbench/pin_checksums.py           # compare to checksums.json
    python3 perfbench/pin_checksums.py --write   # rewrite checksums.json

It takes several minutes on 4 cores: run it when the data or the pair
recipe changes, never per benchmark run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DOCS = os.path.join(HERE, "data", "documents.parquet")
CHECKSUMS = os.path.join(HERE, "checksums.json")
RATIO_CUTOFF = 0.55
LEV_CUTOFF = 40
JW_REL_TOL = 1e-6

# the same pairs as bench.py pairs(): one language, one 50-char length band
PAIRS_SQL = """
CREATE TABLE pairs AS
WITH d AS (SELECT doc_id, text, lang, n_chars FROM read_parquet('{docs}'))
SELECT a.doc_id AS id_1, b.doc_id AS id_2, a.text AS t1, b.text AS t2
FROM d a JOIN d b
  ON a.lang = b.lang AND a.n_chars // 50 = b.n_chars // 50
 AND a.doc_id < b.doc_id
"""

SUMS_SQL = """
SELECT count(*) AS pairs,
       sum(lev) AS lev_sum,
       count(*) FILTER (WHERE lev <= {k}) AS lev40_kept,
       coalesce(sum(lev) FILTER (WHERE lev <= {k}), 0) AS lev40_sum,
       sum(jw) AS jw_sum
FROM (SELECT levenshtein(t1, t2) AS lev, jaro_winkler_similarity(t1, t2) AS jw
      FROM pairs WHERE {where})
"""


def ratio_kept(rows) -> tuple[int, float]:
    """Count and score sum of pairs with fuzz.ratio >= RATIO_CUTOFF."""
    sys.path.insert(0, ROOT)
    from rapidfuzz_spark import api

    n, total = 0, 0.0
    for t1, t2 in rows:
        l1, l2 = len(t1), len(t2)
        # exact indel bound: ratio <= 1 - |l1-l2|/(l1+l2)
        if l1 + l2 and 1 - abs(l1 - l2) / (l1 + l2) < RATIO_CUTOFF:
            continue
        r = api.fuzz.ratio(t1, t2)
        if r >= RATIO_CUTOFF:
            n += 1
            total += r
    return n, total


def compute(subset_mod: int) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(PAIRS_SQL.format(docs=DOCS))
    out = {"subset_mod": subset_mod}
    for name, where in (
        ("full", "true"),
        ("subset", f"(id_1 + id_2) % {subset_mod} = 0"),
    ):
        t0 = time.perf_counter()
        cur = con.execute(SUMS_SQL.format(k=LEV_CUTOFF, where=where))
        cols = [c[0] for c in cur.description]
        sums = dict(zip(cols, cur.fetchone()))
        rows = con.execute(f"SELECT t1, t2 FROM pairs WHERE {where}").fetchall()
        kept, kept_sum = ratio_kept(rows)
        out[name] = {
            "pairs": int(sums["pairs"]),
            "lev_sum": int(sums["lev_sum"]),
            "lev40_kept": int(sums["lev40_kept"]),
            "lev40_sum": int(sums["lev40_sum"]),
            "jw_sum": float(sums["jw_sum"]),
            "ratio055_kept": kept,
            "ratio055_sum": kept_sum,
        }
        print(f"{name}: {out[name]} ({time.perf_counter() - t0:.0f} s)", flush=True)
    return out


def same(a: dict, b: dict) -> bool:
    if a["subset_mod"] != b["subset_mod"]:
        return False
    for part in ("full", "subset"):
        x, y = a[part], b[part]
        for k in ("pairs", "lev_sum", "lev40_kept", "lev40_sum", "ratio055_kept"):
            if x[k] != y[k]:
                return False
        for k in ("jw_sum", "ratio055_sum"):
            if not math.isclose(x[k], y[k], rel_tol=JW_REL_TOL):
                return False
    return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--write", action="store_true", help="rewrite checksums.json")
    args = ap.parse_args()
    with open(CHECKSUMS) as f:
        pinned = json.load(f)
    got = compute(pinned["subset_mod"])
    if args.write:
        with open(CHECKSUMS, "w") as f:
            json.dump(got, f, indent=2)
            f.write("\n")
        print(f"wrote {CHECKSUMS}")
        return 0
    ok = same(got, pinned)
    print("match" if ok else "MISMATCH against checksums.json")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
