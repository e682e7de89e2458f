"""Compare the suite tables ``datagen.py`` makes with a reference table set
of the same scale: schema, row counts, key ranges and category counts.

    python3 cdcbench/datagen_check.py <reference_dir> [--seeds 1 2]

For every table and column it prints the reference's figures and each
seed's: row count; for numeric and timestamp columns min, max and mean; for
text columns the number of distinct values. Exits non-zero when a schema or
row count differs, or when two seeds differ in anything but values (row
counts, distinct counts of category columns).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402

# columns whose distinct count is a property of the shape, not of the values
_CATEGORY_LIMIT = 200


def _profile(path: str) -> dict:
    t = pq.read_table(path)
    cols = {}
    for name in t.column_names:
        c = t[name]
        typ = c.type
        if pa.types.is_timestamp(typ):
            c = c.cast(pa.int64())
        if pa.types.is_integer(c.type) or pa.types.is_floating(c.type):
            mm = pc.min_max(c)
            cols[name] = ("num", mm["min"].as_py(), mm["max"].as_py(), pc.mean(c).as_py())
        elif pa.types.is_string(typ) or pa.types.is_large_string(typ):
            cols[name] = ("text", pc.count_distinct(c).as_py())
        else:
            cols[name] = ("other",)
    return {"rows": t.num_rows, "schema": [(f.name, str(f.type)) for f in t.schema], "cols": cols}


def _fmt(p) -> str:
    if p[0] == "num":
        return f"[{p[1]:.6g}, {p[2]:.6g}] mean {p[3]:.6g}"
    if p[0] == "text":
        return f"{p[1]} distinct"
    return "-"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    a = ap.parse_args()
    ok = True
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        gen = {}
        for s in a.seeds:
            d = os.path.join(tmp, f"seed{s}")
            datagen.generate(d, 0.01, s)
            gen[s] = d
        for f in sorted(os.listdir(a.reference)):
            if not f.endswith(".parquet"):
                continue
            ref = _profile(os.path.join(a.reference, f))
            ours = {s: _profile(os.path.join(d, f)) for s, d in gen.items()}
            print(f"== {f}: rows ref {ref['rows']} "
                  + " ".join(f"seed{s} {p['rows']}" for s, p in ours.items()))
            for s, p in ours.items():
                if p["rows"] != ref["rows"] or p["schema"] != ref["schema"]:
                    print(f"   MISMATCH seed{s}: schema or row count")
                    ok = False
            for name, rp in ref["cols"].items():
                print(f"   {name}: ref {_fmt(rp)} | "
                      + " | ".join(f"seed{s} {_fmt(p['cols'][name])}" for s, p in ours.items()))
                seen = [p["cols"][name] for p in ours.values()]
                if rp[0] == "text" and rp[1] <= _CATEGORY_LIMIT and len({x[1] for x in seen}) > 1:
                    print(f"   SEED-DEPENDENT category count in {name}")
                    ok = False
    print("datagen check", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
