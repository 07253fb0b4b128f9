#!/usr/bin/env python3
"""Draws the fixed sf_suite subset and records its expected digests.

Usage, from the root of a checkout: python3 perfbench/tools/make_suite.py

Run once when the subset is (re)defined, never from the benchmark. The
draw uses a fixed seed and never looks at timings or failures. It groups
the SparkEntry queries by family (the name's prefix; anything outside the
listed families is `other`), draws FAMILIES_DRAWN of the families, and
one query from each drawn family. (One query from every family takes
about 15 s a pass at sf0.01, too long to time several passes a run.) Each
drawn query whose timed form is its oracle-gated form gets the digest
of its output, after that output was compared with DuckDB running the
query's oracle SQL on the same tables (tools/check.py's canonical
form). Queries timed in a production form have no gate: they are
recorded without a digest and the benchmark reports them as unchecked.
"""
import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
import check  # noqa: E402  (the DuckDB oracle gate's canonical form)

DRAW_SEED = 4112
FAMILIES_DRAWN = 7
FAMILIES = ["dedup", "text", "graph", "tpch", "agg", "sim", "index", "events", "sample",
            "join", "window", "q4112"]


def family(name):
    prefix = name.split("_")[0]
    return prefix if prefix in FAMILIES else "other"


def draw(names):
    rng = random.Random(DRAW_SEED)
    by_family = {}
    for n in sorted(names):
        by_family.setdefault(family(n), []).append(n)
    families = sorted(rng.sample(sorted(by_family), FAMILIES_DRAWN))
    return [(f, rng.choice(by_family[f])) for f in families]


def validate(out_dir, gated):
    """DuckDB oracle check of each dumped result; returns the names that match."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    ok = []
    for name in gated:
        got = check.canon(pd.read_parquet(os.path.join(out_dir, name)))
        want = check.canon(con.execute(oracle[name]).df())
        try:
            assert list(got.columns) == list(want.columns), "columns differ"
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            ok.append(name)
            print(f"PASS {name} ({len(got)} rows)")
        except AssertionError as e:
            print(f"FAIL {name}: {str(e)[:300]}")
    return ok


def main():
    classpath = run.build()
    work = os.path.join(run.OUT, "make_suite")
    os.makedirs(work, exist_ok=True)
    listing = os.path.join(work, "queries.txt")
    if run.run_jvm(classpath, ["--mode", "list", "--out", listing], timeout=300) != 0:
        sys.exit("listing the queries failed")
    forms = dict(line.split() for line in open(listing))
    picked = draw(forms)
    draft = os.path.join(work, "suite.json")
    with open(draft, "w") as fh:
        json.dump({"draw_seed": DRAW_SEED,
                   "queries": [{"name": n, "family": f} for f, n in picked]}, fh)
    if run.run_jvm(classpath, ["--mode", "digests", "--data", run.DATA, "--suite", draft,
                               "--out", work], timeout=600) != 0:
        sys.exit("dumping the digests failed")
    digests = json.load(open(os.path.join(work, "digests.json")))
    gated = [n for _, n in picked if forms[n] == "gated"]
    ok = validate(work, gated)
    if len(ok) != len(gated):
        sys.exit(f"oracle mismatch: {sorted(set(gated) - set(ok))}")
    suite = {
        "draw_seed": DRAW_SEED,
        "families_drawn": FAMILIES_DRAWN,
        "data": os.path.relpath(run.DATA, run.ROOT),
        "queries": [dict({"name": n, "family": f, "form": forms[n]},
                         **({"digest": digests[n]} if forms[n] == "gated" else {}))
                    for f, n in picked],
    }
    with open(run.SUITE, "w") as fh:
        json.dump(suite, fh, indent=1)
        fh.write("\n")
    print(f"wrote {os.path.relpath(run.SUITE, run.ROOT)}: {len(picked)} queries, "
          f"{len(gated)} checked")


if __name__ == "__main__":
    main()
