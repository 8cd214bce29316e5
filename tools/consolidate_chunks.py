#!/usr/bin/env python3
"""Consolidate per-query oracle chunks into one committed artifact.

Takes a chunk glob, an output path, and the expected query set.
Refuses to write unless every chunk row is green and the query NAME
SET matches exactly (not just the count — a chunk glob
that picks up a same-count but substituted query set, e.g. stale
chunks from another round with a matching prefix, must not become a
certification artifact). Duplicate keys across chunks are an error,
not a silent last-wins merge. A partial run stays in chunks, visibly
unfinished.

Usage: consolidate_chunks.py '<glob>' <out.json> <expected>

<expected> is either a path to an oracle_sql.json (whose keys are the
expected query names — the strong form) or an integer green-row count
(the legacy weak form, kept for ad-hoc subsets).
"""
import glob
import json
import os
import sys


def main(pattern, out_path, expected):
    merged = {}
    dupes = {}
    for f in sorted(glob.glob(pattern)):
        chunk = json.load(open(f))
        for k, v in chunk.items():
            if k in merged:
                dupes.setdefault(k, []).append(f)
            merged[k] = v
    if dupes:
        print("REFUSING to consolidate - duplicate keys across chunks:")
        for k, files in sorted(dupes.items()):
            print(f"  {k}: also in {files}")
        return 1
    bad = {k: v for k, v in merged.items()
           if not (v.get("rows_match") and v.get("schema_match")
                   and v.get("hash_match"))}
    if bad:
        print("REFUSING to consolidate - failing rows:")
        for k, v in sorted(bad.items()):
            print(f"  {k}: {v.get('err')}")
        return 1
    if os.path.isfile(expected):
        want = set(json.load(open(expected)))
        got = set(merged)
        if got != want:
            print("REFUSING to consolidate - query set mismatch vs "
                  f"{expected}:")
            if want - got:
                print("  missing:", sorted(want - got))
            if got - want:
                print("  unexpected:", sorted(got - want))
            return 1
    elif len(merged) != int(expected):
        print(f"REFUSING to consolidate - {len(merged)} green rows, "
              f"expected {expected}")
        print("present:", sorted(merged))
        return 1
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}: {len(merged)} queries, all green")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3]))
