#!/usr/bin/env python3
"""Regenerate BASELINE.md's side-by-side section from close-out artifacts.

The published round-10 headline ratio was once
computed from a MID-ROUND medians snapshot (graft 129.7 s) while the final
close-out medians said 156.3 s — a stale number survived into the committed
BASELINE.md. This script makes the section a pure function of the committed
artifacts so a hand-typed snapshot can never be published again:

  inputs : BENCH_RESULT_sf0.1.json            (graft side: its per-query
                                               `queries` medians)
           ORACLE_SIDEBYSIDE_sf0.1_r{N}.json  (oracle side: highest N found)
  output : BASELINE.md, the block between SIDEBYSIDE:BEGIN/END markers

Decomposition:
  - full common-query totals + ratio
  - structural oracle outliers: oracle-side > OUTLIER_SEC (the recursive-CTE
    dedup closures, the range join, the LSH all-pairs — queries whose
    distributed shape is the point)
  - streaming gates (name contains "_stream_"): real multi-micro-batch
    checkpointed AvailableNow executions vs sub-second batch-SQL oracles —
    the comparison buys semantics the oracle doesn't execute
  - top graft wins on the non-outlier subset

Run it after a full sf0.1 `graft.Bench` run:
  python3 tools/baseline_sidebyside.py [--dry-run]
"""
import glob
import json
import os
import re
import sys
from datetime import date

OUTLIER_SEC = 30.0
BEGIN = "<!-- SIDEBYSIDE:BEGIN (generated by tools/baseline_sidebyside.py; do not hand-edit) -->"
END = "<!-- SIDEBYSIDE:END -->"


def latest_sidebyside():
    best, best_n = None, -1
    for p in glob.glob("ORACLE_SIDEBYSIDE_sf0.1_r*.json"):
        m = re.search(r"_r(\d+)\.json$", p)
        if m and int(m.group(1)) > best_n:
            best, best_n = p, int(m.group(1))
    if best is None:
        sys.exit("no ORACLE_SIDEBYSIDE_sf0.1_r*.json found")
    return best, best_n


def main():
    os.chdir(os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
    graft = json.load(open("BENCH_RESULT_sf0.1.json"))["queries"]
    sbs_path, round_n = latest_sidebyside()
    sbs = json.load(open(sbs_path))
    oracle = sbs["queries"]
    timed_out = set(sbs.get("timed_out", []))

    common = sorted(k for k in graft if k in oracle and k not in timed_out
                    and graft[k] >= 0)
    g_tot = sum(graft[k] for k in common)
    o_tot = sum(oracle[k] for k in common)

    outliers = sorted((k for k in common if oracle[k] > OUTLIER_SEC),
                      key=lambda k: -oracle[k])
    sub = [k for k in common if k not in outliers]
    g_sub = sum(graft[k] for k in sub)
    o_sub = sum(oracle[k] for k in sub)

    streaming = [k for k in sub if "_stream_" in k]
    nonstream = [k for k in sub if "_stream_" not in k]
    g_ns = sum(graft[k] for k in nonstream)
    o_ns = sum(oracle[k] for k in nonstream)
    g_st = sum(graft[k] for k in streaming)
    o_st = sum(oracle[k] for k in streaming)

    wins = sorted((k for k in sub if graft[k] > 0 and oracle[k] / graft[k] > 5
                   and oracle[k] > 1.0),
                  key=lambda k: -(oracle[k] / graft[k]))[:6]

    def line_outlier(k):
        return f"q{k.split('_')[0][1:]} ({k.split('_', 1)[1]}) oracle {oracle[k]:.1f} s vs graft {graft[k]:.2f} s"

    out = []
    out.append(BEGIN)
    out.append(f"## Round-{round_n} full side-by-side (sf0.1, regenerated {date.today().isoformat()}) — CURRENT")
    out.append("")
    out.append(f"Generated from `BENCH_RESULT_sf0.1.json` (graft medians, full-suite")
    out.append(f"bench) + `{sbs_path}` (DuckDB oracle medians,")
    out.append(f"`tools/oracle_bench.py --timeout 180`) by")
    out.append("`tools/baseline_sidebyside.py` — re-run it after any full bench or")
    out.append("oracle run; hand-edits inside this block are overwritten.")
    out.append("")
    out.append(f"**{len(common)} common queries: graft/Spark {g_tot:.1f} s vs DuckDB-oracle")
    out.append(f"{o_tot:.1f} s — ratio {g_tot / o_tot:.2f}×.**"
               + (f" Excluded as oracle timeouts: {', '.join(sorted(timed_out))}"
                  f" (brute-force oracle exceeded 180 s; graft answers exactly — "
                  f"e.g. q149's PPJoin in {graft.get('q149_jaccard_join', float('nan')):.1f} s)."
                  if timed_out else ""))
    out.append("")
    out.append("The gap is structural in both directions; the honest decomposition:")
    out.append("")
    out.append(f"- **Structural outliers, oracle side (> {OUTLIER_SEC:.0f} s each: {len(outliers)} queries,")
    out.append(f"  {sum(oracle[k] for k in outliers):.1f} s oracle vs {sum(graft[k] for k in outliers):.1f} s graft)** — "
               "recursive-CTE dedup closures, range joins, LSH all-pairs: queries whose "
               "distributed shape is the point. " + "; ".join(line_outlier(k) for k in outliers) + ".")
    out.append(f"- **Excluding those {len(outliers)}: {len(sub)} queries, graft {g_sub:.1f} s vs DuckDB")
    out.append(f"  {o_sub:.1f} s ({g_sub / o_sub:.2f}×).**")
    out.append(f"- **Excluding also the {len(streaming)} streaming gates** (real multi-micro-batch")
    out.append(f"  checkpointed AvailableNow executions, {g_st:.1f} s graft vs {o_st:.1f} s of")
    out.append(f"  batch-SQL oracle — the comparison buys exactly-once streaming")
    out.append(f"  semantics the oracle doesn't execute): **{len(nonstream)} queries,")
    out.append(f"  graft {g_ns:.1f} s vs DuckDB {o_ns:.1f} s ({g_ns / o_ns:.2f}×)** — the residual is")
    out.append(f"  Spark's fixed ~0.3–0.6 s/query scheduling floor across the")
    out.append(f"  {sum(1 for k in nonstream if graft[k] < 1.0)} sub-second queries, irrelevant at 100× scale.")
    if wins:
        out.append("- **Data-heavy non-outlier queries graft wins outright:** "
                   + ", ".join(f"{k} {oracle[k] / graft[k]:.0f}× ({graft[k]:.2f} s vs {oracle[k]:.2f} s)"
                               for k in wins) + ".")
    out.append("")
    out.append("Protocol: DuckDB 1 warmup + 3 timed medians (single run past 5 s")
    out.append("warmup), interrupt timeout 180 s; graft medians from the full-suite")
    out.append("bench at local[32], `spark.sql.shuffle.partitions=32`.")
    out.append(END)
    block = "\n".join(out) + "\n"

    md = open("BASELINE.md").read()
    if BEGIN in md:
        pre = md[:md.index(BEGIN)]
        post = md[md.index(END) + len(END) + 1:]
        new = pre + block + post
    else:
        # first run: replace the hand-written CURRENT section (from its
        # header to the next ## header) with the generated block
        m = re.search(r"^## Round-\d+ full side-by-side.*?(?=^## )", md,
                      re.M | re.S)
        if not m:
            sys.exit("no insertion point: neither markers nor a "
                     "'## Round-N full side-by-side' section found")
        new = md[:m.start()] + block + "\n" + md[m.end():]

    if "--dry-run" in sys.argv:
        print(block)
    else:
        open("BASELINE.md", "w").write(new)
        print(f"BASELINE.md side-by-side regenerated from {sbs_path} "
              f"({len(common)} common queries, ratio {g_tot / o_tot:.2f}x / "
              f"{g_sub / o_sub:.2f}x non-outlier / {g_ns / o_ns:.2f}x non-stream)")


if __name__ == "__main__":
    main()
