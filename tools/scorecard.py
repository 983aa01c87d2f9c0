"""Generate SCORECARD.md — the engine's one-document capability claim
(VERDICT r07 item #7): every registered query's driver-verification
round, the two-decade exponent table for the production tiers, and the
headline bench/throughput numbers, all derived from committed artifacts
(CORRECTNESS_r*.json, SCALEBENCH100.json, SCALEBENCH.json,
BENCH_LOCAL.json) so the claim can't drift from the measurements.

Usage: python tools/scorecard.py      (idempotent; rerun after any gate)
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from streamprocessing_spark.registry import GATE_FIRST, all_specs  # noqa: E402

# Scale-row labels the prose in SCALE.md establishes; keyed by
# SCALEBENCH100 row name. Everything unlabeled is a production claim.
ROW_NOTES = {
    "ivf_cosine_pairs": "64-dim stress row — percolated pair regime (degenerate; see @256d twin)",
    "semantic_dedup_keep_ivf": "64-dim stress row — percolated pair regime (degenerate; see @256d twin)",
    "bitext_mine_margin_ivf": "cell-local cross scorer (r8 rework; was 1.151)",
    "dedup_keep_canonical": "FULL production cascade, COLD every run",
}


def driver_rounds() -> dict[str, int]:
    """name -> first round with a green driver row (hash-green, or the
    deliberate rows-only rows which carry err == 'no_oracle')."""
    first: dict[str, int] = {}
    for p in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        rnd = int(p.stem.split("_r")[1])
        rows = json.loads(p.read_text())
        for name, row in rows.items():
            ok = row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and row["spark_rows"] >= 0
            )
            if ok and name not in first:
                first[name] = rnd
    return first


def main() -> int:
    specs = all_specs()
    gated = driver_rounds()
    bench = json.loads((ROOT / "BENCH_LOCAL.json").read_text())
    sb100 = json.loads((ROOT / "SCALEBENCH100.json").read_text())["queries"]
    sb10 = json.loads((ROOT / "SCALEBENCH.json").read_text())["queries"]

    fam_reg: dict[str, int] = defaultdict(int)
    fam_gated: dict[str, int] = defaultdict(int)
    for name, spec in specs.items():
        fam = spec.fn.__module__.split(".")[-1]
        fam_reg[fam] += 1
        if name in gated:
            fam_gated[fam] += 1

    n_oracled = sum(1 for s in specs.values() if s.oracle)
    lines = [
        "# SCORECARD — streamprocessing_spark",
        "",
        "Generated by `tools/scorecard.py` from committed artifacts — do not edit.",
        "",
        "## Registry",
        "",
        f"- **{len(specs)} registered queries**, {n_oracled} with full DuckDB"
        f" oracles ({len(specs) - n_oracled} rows-only by design).",
        f"- **{len(gated)}/{len(specs)} driver-gated green** across"
        f" {len(list(ROOT.glob('CORRECTNESS_r*.json')))} rounds"
        " (zero oracle mismatches ever recorded).",
        f"- `queries()` leads with the {len(GATE_FIRST)} `GATE_FIRST` names"
        " (code changed since their last driver row), so the driver's"
        " 50-name oracle gate checks them; the rest follow in registration"
        " order.",
        "",
        "| family | registered | driver-gated |",
        "|---|---|---|",
    ]
    for fam in sorted(fam_reg, key=lambda f: -fam_reg[f]):
        lines.append(f"| {fam} | {fam_reg[fam]} | {fam_gated[fam]} |")

    lines += [
        "",
        "## Two-decade scale exponents (x1 → x10 → x100, fitted log-log slope)",
        "",
        "From `SCALEBENCH100.json` (tools/scale_bench.py --graph100 /"
        " --dedup100 / --emb256; construction laws and caveats in SCALE.md).",
        "",
        "| query | exponent | driver row | note |",
        "|---|---|---|---|",
    ]
    for name, row in sorted(sb100.items(), key=lambda kv: kv[1].get("fitted_exponent", 9)):
        base = name.split("@")[0]
        rnd = gated.get(base)
        drv = f"r{rnd:02d}" if rnd else "rehearsed"
        note = ROW_NOTES.get(name, "")
        if name.endswith("@256d"):
            note = row.get("regime", "256-dim sparse regime")
        lines.append(
            f"| {name} | **{row.get('fitted_exponent')}** | {drv} | {note} |"
        )

    lines += [
        "",
        "## One-decade ratios (sf0.1 → 10x proxy)",
        "",
        "{n} heavy queries measured at the 10x proxy (`SCALEBENCH.json`);"
        " full table in SCALE.md. Worst ratio: {q} ({r}x).".format(
            n=len(sb10),
            q=max(sb10, key=lambda k: sb10[k].get("ratio", 0)),
            r=max(r.get("ratio", 0) for r in sb10.values()),
        ),
        "",
        "## Headline bench (BENCH_LOCAL.json)",
        "",
        f"- **{len(bench['queries'])} headline queries in"
        f" {bench['value']:.1f} s** at sf{bench['sf']} on local[32].",
        "- Throughput vs the reference report's Spark rows (records/s):",
    ]
    t = bench["throughput"]
    lines += [
        f"  - app1 **{t['app1_records_per_s']:,}** (ref ~800),"
        f" app2 **{t['app2_records_per_s']:,}** (~760),",
        f"  - simple **{t['simple_task_records_per_s']:,}** (~725),"
        f" complex **{t['complex_task_records_per_s']:,}** (~710).",
        "",
        "## Cross-references",
        "",
        "- Correctness rows: `CORRECTNESS_r*.json` (driver) /"
        " `tools/check.py` (local oracle parity).",
        "- Plan pins (broadcasts, DPP, no global windows): `tests/test_plans.py`.",
        "- Scale methodology + honest caveats: `SCALE.md`.",
        "- Spill/skew/soak artifacts: `SPILLBENCH.json`, `SKEWBENCH.json`,"
        " `SOAK.json`.",
        "",
    ]
    (ROOT / "SCORECARD.md").write_text("\n".join(lines))
    print(f"SCORECARD.md: {len(specs)} queries, {len(gated)} gated, "
          f"{len(sb100)} exponent rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
