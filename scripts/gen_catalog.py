"""Generate docs/OPERATORS.md — the declared-query catalog — from the
live registry, so the coverage inventory can be line-checked against
what the code actually registers. Run: python scripts/gen_catalog.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hello_flink_spark import registry  # noqa: E402


# Queries whose operators finish on the driver under a bounded probe
# and run the Spark plan past it.
PATHS = """## Driver finish or Spark plan

The near-dup tier probes its input once with a LIMIT of
`scale.HOT_BROADCAST_MAX` + 1 rows. At or under the bound it finishes
on the driver, exactly as the Spark plan would; past it the Spark plan
runs. What is probed decides the path:

| queries | probed rows |
|---|---|
| `dedup_ngram_jaccard`, `dedup_containment`, `dedup_cluster`, `dedup_cluster_stats`, `docs_near_dup_rate_by_source` | the exploded `(doc_id, shingle)` rows, one per token position (`llm._shingle_overlap_rows`) |
| `multimodal_dedup_phash`, `multimodal_audio_dedup_fingerprint`, `multimodal_video_dedup_framehash` | the signature rows, one per doc (`banded_dedup.min_rep_dedup`) |

On the test bed, every probe finishes on the driver at sf0.001, sf0.01
and on the perfbench tables; at sf0.1 the shingle probe is over the
bound, so its five queries run the Spark plan there, while the
signature probes stay on the driver (the measured sizes are in
ROADMAP.md).

`dedup_cluster` labels the driver-side jaccard pairs by union-find and,
on the Spark path, hands the pair frame to `connected_components`
(which has its own probe of the same bound). Every probe reads the
bound from `scale` when it runs, so patching `scale.HOT_BROADCAST_MAX`
to -1 sends every one of them down the Spark path.
"""


def main() -> None:
    specs = registry._REGISTRY  # registration order, not driver-priority order
    registry._load()
    lines = [
        "# Declared-query catalog (generated — do not edit)",
        "",
        "Regenerate with `python scripts/gen_catalog.py`. One row per",
        "`queries()` entry; **O** = DuckDB-oracle hash-checked, **R** =",
        "rows-only at the gate (invariant-tested in pytest instead).",
        "Driver-facing order differs: `registry.all_specs()` puts",
        "never-driver-verified queries first (see registry.py).",
        "",
        "| # | query | module | gate | summary |",
        "|---|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(specs.items(), 1):
        module = spec.fn.__module__.rsplit(".", 1)[-1]
        gate = "O" if spec.oracle else "R"
        doc = (spec.fn.__doc__ or "").strip().splitlines()
        summary = doc[0].rstrip() if doc else ""
        lines.append(f"| {i} | `{name}` | {module} | {gate} | {summary} |")
    o = sum(1 for s in specs.values() if s.oracle)
    lines += [
        "",
        f"**Total: {len(specs)} declared queries — {o} oracle-checked (O), "
        f"{len(specs) - o} rows-only (R).**",
        "",
        PATHS,
    ]
    out = Path(__file__).resolve().parent.parent / "docs" / "OPERATORS.md"
    out.write_text("\n".join(lines))
    print(f"wrote {out} ({len(specs)} queries, {o} O / {len(specs) - o} R)")


if __name__ == "__main__":
    main()
