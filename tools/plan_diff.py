#!/usr/bin/env python3
"""Compare PlanDump before/after files, one line per query.

Usage: python3 tools/plan_diff.py <dir>

For every <query>_before.txt / <query>_after.txt pair in <dir>, prints
`<query>: <verdict>`. Expression ids (`#123`), the metadata-aggregate
rewrite's generated union slot names and the UUIDs in data file names
are normalized away first, so the verdict names only differences in
plan structure, in the files a scan lists (directories and entry
counts), or in the `files read:` line PlanDump appends after running
the query.
"""
import pathlib
import re
import sys

SLOT = re.compile(r"\b_(?:band_\d+_\d+|bg[kv]_\d+(?:_\d+)?|tb[kv]_\d+(?:_\d+)?"
                  r"|meta_k\d+|meta_v\d+_\d+)\b")
EXPR_ID = re.compile(r"#\d+L?")
# data file names carry a per-write UUID; fixtures rebuilt between the two
# dumps differ there and nowhere else
FILE_UUID = re.compile(r"part-\d+-[0-9a-f-]{36}")


def normalize(text):
    text = FILE_UUID.sub("part-UUID", SLOT.sub("_SLOT", text))
    return EXPR_ID.sub("#N", text).splitlines()


def files_read(lines):
    for line in lines:
        if line.startswith("files read:"):
            return line.split(":", 1)[1].strip()
    return "?"


def verdict(before, after):
    raw_b, raw_a = before.splitlines(), after.splitlines()
    if raw_b == raw_a:
        return "identical"
    b, a = normalize(before), normalize(after)
    fb, fa = files_read(b), files_read(a)
    if b == a:
        return f"same after normalizing; files read {fb}"
    changed = sum(1 for x, y in zip(b, a) if x != y) + abs(len(b) - len(a))
    files = (f"files read {fb}" if fb == fa
             else f"FILES READ CHANGED {fb} -> {fa}")
    return f"{changed} plan line(s) differ beyond slot names/exprIds; {files}"


def main():
    d = pathlib.Path(sys.argv[1])
    for before in sorted(d.glob("*_before.txt")):
        name = before.name[: -len("_before.txt")]
        after = d / f"{name}_after.txt"
        if not after.exists():
            print(f"{name}: no after dump")
            continue
        print(f"{name}: {verdict(before.read_text(), after.read_text())}")


if __name__ == "__main__":
    main()
