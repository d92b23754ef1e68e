"""Generate VERIFICATION.md: a per-query verification ledger.

Round-3 verdict item 2: with 200+ registered queries and ~50 driver
samples per round, most entries rely on the local sf0.01 sweep — make
which-is-which auditable. For every registry entry this tool records:

  * ``driver rounds``: every CORRECTNESS_r*.json in which the driver's
    independent gate sampled the query, with pass/fail;
  * ``local sweep``: whether the query carries a full DuckDB oracle
    (exercised by tools/verify_local.py and
    tests/test_oracle_parity.py at sf0.001 in every pytest run);
  * the derived status: DRIVER-VERIFIED (latest driver sample green),
    SWEEP-ONLY (full oracle, never driver-sampled), or FIX-PENDING
    (last driver sample failed).

Usage: python tools/verification_ledger.py   (rewrites VERIFICATION.md)
"""

from __future__ import annotations

import glob
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    import __spark_entry__ as entry

    from octopufs_spark.registry import DRIVER_SAMPLE, REVERIFY_FROM_ROUND

    ordered = list(entry.queries())  # registry order = the driver's sample order
    prefix = set(ordered[:DRIVER_SAMPLE])
    queries = sorted(ordered)
    oracles = entry.oracle_sql()

    driver: dict[str, list[tuple[int, str]]] = {}
    for path in sorted(glob.glob(str(ROOT / "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)", path).group(1))
        for name, res in json.load(open(path)).items():
            if res.get("err") == "no_oracle":
                # rows-only check of a then-weak entry — neither a pass
                # nor a fail of the value gate
                verdict = "weak"
            elif res.get("rows_match") and res.get("schema_match") and res.get("hash_match"):
                verdict = "pass"
            else:
                verdict = "FAIL"
            driver.setdefault(name, []).append((rnd, verdict))

    lines = [
        "# VERIFICATION — per-query ledger",
        "",
        "Generated by `tools/verification_ledger.py` from the driver's",
        "`CORRECTNESS_r*.json` records and the current registry. Statuses:",
        "",
        "- **DRIVER-VERIFIED**: the driver's independent Spark-vs-DuckDB gate",
        "  sampled this query and its latest sample is green (rows+schema+hash).",
        "- **SWEEP-ONLY**: full DuckDB oracle registered and green in the local",
        "  sf0.001/sf0.01 sweep (`tools/verify_local.py`,",
        "  `tests/test_oracle_parity.py`) — but the driver's bounded per-round",
        "  sample has not yet covered it. Byte-stable queries in this state can",
        "  only accumulate green driver samples over time.",
        "- **FIX-PENDING**: the latest driver sample failed (fix landed or due).",
        "",
        "Recording a round: regenerate this file with",
        "`python tools/verification_ledger.py` after the round's",
        "`CORRECTNESS_r*.json` lands. The default pytest run deselects the",
        "`slow` tests (pytest.ini), so every few rounds, and always before a",
        "round that touches the registry or the engine, also run",
        "`pytest tests/ -m slow` and note its result in CHANGES.md.",
        "",
    ]

    counts = {"DRIVER-VERIFIED": 0, "SWEEP-ONLY": 0, "FIX-PENDING": 0}
    rows = []
    stranded = []  # the r5 ordering-bug class: unverified AND unsampleable
    for name in queries:
        samples = driver.get(name, [])
        has_oracle = oracles.get(name) is not None
        # latest sample that actually exercised a value oracle decides;
        # samples that predate a registered-implementation rewrite
        # verified the OLD plan and do not count
        valued = [
            (r, v)
            for r, v in samples
            if v != "weak" and r >= REVERIFY_FROM_ROUND.get(name, 0)
        ]
        if valued:
            status = "DRIVER-VERIFIED" if valued[-1][1] == "pass" else "FIX-PENDING"
        else:
            status = "SWEEP-ONLY"
        hist = ", ".join(f"r{r}:{v}" for r, v in samples) if samples else "—"
        counts[status] += 1
        oracle_kind = "full" if has_oracle else "contract/none"
        if status == "SWEEP-ONLY":
            eligible = name in prefix
            if not eligible:
                stranded.append(name)
            status = f"SWEEP-ONLY ({'sample-eligible' if eligible else 'STRANDED'})"
        rows.append(f"| {name} | {status} | {hist} | {oracle_kind} |")

    if stranded:
        lines += [
            f"**⚠ {len(stranded)} STRANDED quer{'y' if len(stranded) == 1 else 'ies'}:** "
            "never driver-verified yet sorted OUTSIDE the driver's "
            f"{DRIVER_SAMPLE}-query sample prefix — the ledger cannot close "
            "until registry ordering puts them back in front "
            "(the r5 `no_oracle`-counts-as-seen bug was this class): "
            + ", ".join(f"`{n}`" for n in stranded),
            "",
        ]

    lines += [
        f"**Totals:** {len(queries)} registered · "
        f"{counts['DRIVER-VERIFIED']} driver-verified · "
        f"{counts['SWEEP-ONLY']} sweep-only · "
        f"{counts['FIX-PENDING']} fix-pending.",
        "",
        "| query | status | driver samples | oracle |",
        "|---|---|---|---|",
        *rows,
        "",
    ]
    with open(ROOT / "VERIFICATION.md", "w") as f:
        f.write("\n".join(lines))
    print(
        f"wrote VERIFICATION.md: {len(queries)} queries, "
        f"{counts['DRIVER-VERIFIED']} driver-verified, "
        f"{counts['SWEEP-ONLY']} sweep-only, {counts['FIX-PENDING']} fix-pending"
        + (f", {len(stranded)} STRANDED: {stranded}" if stranded else "")
    )
    if stranded:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
