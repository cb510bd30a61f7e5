#!/usr/bin/env python3
"""Merge per-chunk Bench JSON files (one `graft.Bench` run per registry
chunk, e.g. BENCH_sf100_r11_chunk*.json; the chunked sf100 leg script is
in git history at 7a28436) into one registry-wide JSON with the Bench schema
(total excludes -1 error sentinels; errors listed by name).

Usage: tools/merge_chunks.py [prefix] [out]
"""
import glob
import json
import sys

prefix = sys.argv[1] if len(sys.argv) > 1 else "BENCH_sf100_r11_chunk"
out = sys.argv[2] if len(sys.argv) > 2 else "BENCH_sf100_r11.json"

queries, sf = {}, None
chunks = sorted(glob.glob(prefix + "*.json"),
                key=lambda p: int(p[len(prefix):].split(".")[0]))
for p in chunks:
    d = json.load(open(p))
    sf = d.get("sf", sf)
    queries.update(d["queries"])

# A later chunk's successful re-run overrides an earlier -1 sentinel, so
# errors are derived from the FINAL per-query values, never concatenated.
errors = [k for k, v in queries.items() if v < 0]
total = sum(v for v in queries.values() if v >= 0)
doc = {
    "metric": "total", "value": round(total, 2), "unit": "sec",
    "n": len(queries), "errors": sorted(errors), "sf": sf,
    "chunks": len(chunks),
    "queries": {k: queries[k] for k in sorted(queries)},
}
json.dump(doc, open(out, "w"))
print(f"{out}: {len(queries)} queries, {len(errors)} errors, "
      f"total {total:.1f}s over {len(chunks)} chunks")
if errors:
    print("errors:", sorted(errors))
