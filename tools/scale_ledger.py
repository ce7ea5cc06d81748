"""Index the per-entry scale evidence in BASELINE.md (round-12
VERDICT item 6).

BASELINE.md accumulates "scale sanity" rows (20x replica corpora, sf1
decade-up spot-runs) across session tables and prose; this tool greps
them back into one index keyed by registry id so gates can assert
coverage instead of a human re-reading five tables. The index is
computed on demand (tests/test_entry.py asserts its coverage), never
committed: a committed copy goes stale with every BASELINE.md edit.

Two evidence shapes are recognized, both cited by line number:
- **scale tables**: any markdown table whose HEADER carries a scale
  marker (`20x`/`20×` or `sf1` in a column name) attributes every data
  row to the registry id whose code leads the first cell
  (`| k71 funnel_sequence | ...` -> `k71_...`);
- **prose / mixed lines**: a line mentioning a code as a standalone
  token AND carrying a scale marker on the same line.
Each entry records line numbers and excerpts, so the ledger is a
citation index, not a claim.

Run from the repo root to print the coverage summary:

    python tools/scale_ledger.py
"""

from __future__ import annotations

import os
import re
import sys

MARKER = re.compile(r"20[x×]|\bsf1\b")
CODE = re.compile(r"(?<![A-Za-z0-9])([a-z]+\d+[a-z]?)(?![0-9a-z])")


def build_ledger(repo: str = ".") -> dict:
    sys.path.insert(0, os.path.abspath(repo))
    from kafka_data_explorer_cdc_spark.queries import REGISTRY

    codes = {name.split("_", 1)[0]: name for name in REGISTRY}
    assert len(codes) == len(REGISTRY), "registry code prefixes must be unique"

    entries: dict[str, list[dict]] = {}

    def record(name: str, lineno: int, line: str) -> None:
        ev = entries.setdefault(name, [])
        if not any(e["line"] == lineno for e in ev):
            ev.append({"line": lineno, "excerpt": line.strip()[:160]})

    with open(os.path.join(repo, "BASELINE.md"), encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    in_scale_table = False
    for lineno, line in enumerate(lines, 1):
        is_row = line.lstrip().startswith("|")
        if is_row:
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if set("".join(cells)) <= set(":- "):
                pass  # separator row: keep table state
            elif MARKER.search(line) and not in_scale_table:
                # header row carrying the marker opens a scale table
                # (a DATA row with a marker is also caught by the
                # prose branch below)
                in_scale_table = True
            if in_scale_table and cells:
                m = CODE.match(cells[0])
                if m and m.group(1) in codes:
                    record(codes[m.group(1)], lineno, line)
        else:
            in_scale_table = False
        if MARKER.search(line):
            for m in CODE.finditer(line):
                if m.group(1) in codes:
                    record(codes[m.group(1)], lineno, line)
    scaled = sorted(entries)
    missing = sorted(set(REGISTRY) - set(scaled))
    return {
        "source": "BASELINE.md",
        "total_registry": len(REGISTRY),
        "scaled_count": len(scaled),
        "missing_count": len(missing),
        "entries": {k: entries[k] for k in scaled},
        "missing": missing,
    }


def main() -> None:
    ledger = build_ledger()
    print(
        f"{ledger['scaled_count']}/{ledger['total_registry']} entries have "
        f"scale evidence; without: {', '.join(ledger['missing'])}"
    )


if __name__ == "__main__":
    main()
