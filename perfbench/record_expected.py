#!/usr/bin/env python3
"""Records expected full-result digests from a sweep output.

    python3 perfbench/record_expected.py <sweep.json> <scale>

Merges the rows and digest of every query of the sweep that succeeded
into perfbench/expected.json under <scale>, the name
of the table directory the sweep read (sf0.1, sf0.01). Record only from a
tree whose outputs match the DuckDB oracle.
"""
import json
import os
import sys

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def main():
    sweep, scale = sys.argv[1], sys.argv[2]
    with open(sweep) as f:
        queries = json.load(f)["queries"]
    exp = {}
    if os.path.isfile(EXPECTED):
        with open(EXPECTED) as f:
            exp = json.load(f)
    sect = exp.setdefault(scale, {})
    for name, q in queries.items():
        if q["ok"]:
            sect[name] = {"rows": q["rows"], "digest": q["digest"]}
    exp[scale] = dict(sorted(sect.items()))
    with open(EXPECTED, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(sect)} queries at {scale} in {EXPECTED}")


if __name__ == "__main__":
    main()
