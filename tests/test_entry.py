"""Driver-contract tests for __spark_entry__: the driver may hand
entry()/queries() an arbitrarily-configured session; the adapter must
repin the runtime confs correctness depends on."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as e


def test_entry_repins_utc_on_foreign_session(spark):
    """A session arriving with a non-UTC timezone must be repinned —
    every timestamp oracle comparison assumes UTC."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = e.entry(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        rows = df.collect()
        assert len(rows) > 0
        assert set(df.columns) == {"city", "avg_sales"}
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_queries_and_oracles_are_consistent(spark):
    """Contract invariants: every oracle key has a query; every query
    callable accepts (spark, sf_dir); names are stable identifiers."""
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert all(n.replace("_", "").isalnum() for n in qs)
    df = qs["b01_scan_region"](spark, "/root/testdata/sf0.001")
    assert df.count() == 5


def test_coverage_freshness_table_not_stale():
    """COVERAGE.md's generated freshness header must EQUAL the union
    computed from the CORRECTNESS_r*.json files on disk. Rounds 6, 8
    AND 9 all shipped a one-round-stale header (the driver drops its
    artifact after the builder's last commit), so per the round-9
    verdict this is now a hard FAIL, not a skip: the first pytest run
    of a new round fails with the exact regen command until the header
    is regenerated against the newest driver artifact."""
    import glob
    import json
    import re

    checked: set[str] = set()
    for p in glob.glob(str(REPO / "CORRECTNESS_r*.json")):
        checked.update(json.load(open(p)).keys())
    from kafka_data_explorer_cdc_spark.queries import REGISTRY

    ever = sum(1 for n in REGISTRY if n in checked)
    never = len(REGISTRY) - ever
    doc = open(REPO / "COVERAGE.md").read()
    m = re.search(
        r"Registry entries: (\d+); ever driver-checked: (\d+); never: (\d+)",
        doc,
    )
    assert m, "COVERAGE.md freshness header missing — run python tools/coverage_freshness.py"
    got = tuple(int(x) for x in m.groups())
    assert got == (len(REGISTRY), ever, never), (
        f"COVERAGE.md freshness header STALE: header says {got}, "
        f"disk says {(len(REGISTRY), ever, never)} — "
        "run `python tools/coverage_freshness.py` and commit"
    )


def test_survey_declares_every_registry_entry():
    """SURVEY.md §2 is the auditable operator contract; the r6 and r7
    verdicts both caught registry entries that were implemented but
    never declared there. Guard: every registry entry's short id (the
    token before the first underscore, e.g. ``b91`` / ``d07v`` /
    ``mm6``) must appear in SURVEY.md as a standalone word."""
    import re

    from kafka_data_explorer_cdc_spark.queries import REGISTRY

    doc = open(REPO / "SURVEY.md").read()
    missing = []
    for name in REGISTRY:
        short = name.split("_", 1)[0]
        if name not in doc and not re.search(rf"\b{re.escape(short)}\b", doc):
            missing.append(f"{short} ({name})")
    assert not missing, (
        "registry entries not declared in SURVEY.md §2 — add a table "
        f"row for each: {sorted(set(missing))}"
    )


def test_rotation_queue_names_exist():
    """The round-N+1 _FRONT is rebuilt by copying entry names out of
    the rotation-queue comment in queries/__init__.py; a typo there
    silently burns a driver-check slot next round. Every token that
    looks like a registry id must BE one."""
    import re

    from kafka_data_explorer_cdc_spark.queries import REGISTRY

    src = open(
        REPO / "kafka_data_explorer_cdc_spark" / "queries" / "__init__.py"
    ).read()
    comment = "\n".join(
        ln for ln in src.splitlines() if ln.lstrip().startswith("#")
    )
    candidates = set(re.findall(r"\b[a-z]+\d+[a-z]?_[a-z0-9_]+\b", comment))
    unknown = sorted(c for c in candidates if c not in REGISTRY)
    assert not unknown, f"queue comment names not in registry: {unknown}"


def test_rotation_window_covers_never_checked():
    """The driver checks only the first 50 registry entries per round.
    The standing rotation policy says every entry with no driver row in
    any CORRECTNESS_r*.json must be inside that window (when they fit);
    a stale _FRONT burns a driver round re-checking greens. Mirrors
    tools/rotation_check.py."""
    import glob
    import json

    from kafka_data_explorer_cdc_spark.queries import REGISTRY

    checked: set[str] = set()
    for p in glob.glob(str(REPO / "CORRECTNESS_r*.json")):
        checked.update(json.load(open(p)).keys())
    reg = list(REGISTRY)
    never = [n for n in reg if n not in checked]
    if len(never) > 50:
        # More new entries than slots — build order decides; the
        # rotation comment documents the overflow queue instead.
        return
    outside = [n for n in never if n not in reg[:50]]
    assert not outside, (
        f"never-driver-checked entries outside the 50-slot window: "
        f"{outside} — rebuild _FRONT (see tools/rotation_check.py)"
    )


def test_rotation_check_parses_two_digit_rounds(tmp_path):
    """Round-9 ADVICE: the old glob 'CORRECTNESS_r0*.json' silently
    dropped rounds >= 10, so entries checked only in r10+ would read as
    never-checked exactly when the window math matters. The checker
    must parse any round number."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "rotation_check", REPO / "tools" / "rotation_check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    row = {"rows_match": True, "schema_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r09.json").write_text(
        json.dumps({"old_entry": row, "both": row})
    )
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({"new_entry": row, "both": row})
    )
    (tmp_path / "CORRECTNESS_r12.json").write_text(
        json.dumps({"newest": row})
    )
    latest = mod.latest_driver_round(repo=str(tmp_path))
    assert latest == {"old_entry": 9, "both": 10, "new_entry": 10, "newest": 12}


def test_scale_ledger_covers_recent_cohorts():
    """The scale-evidence index computed from BASELINE.md (round-12
    VERDICT item 6) must cover every entry the round-10/12 verdicts
    recorded 20x rows for, and the scaled count must never regress —
    new entries keep paying the k109-bar scale row."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "scale_ledger", os.path.join(repo, "tools", "scale_ledger.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    ledger = mod.build_ledger(repo)

    have = {name.split("_", 1)[0] for name in ledger["entries"]}
    r10_cohort = (
        [f"b{i}" for i in range(106, 118)]
        + [f"d{i}" for i in range(92, 100)]
        + [f"k{i}" for i in range(71, 85)]
        + ["mm11", "mm12", "mm13", "s50", "s51", "s52"]
    )
    r12_adds = ["k109", "k110", "mm16", "s61"]
    missing = [c for c in r10_cohort + r12_adds if c not in have]
    assert not missing, f"scale rows lost from BASELINE.md: {missing}"
    # floor at the round-13 generation count; additions may only raise it
    assert ledger["scaled_count"] >= 97
