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


def test_adapter_releases_previous_query_caches(spark):
    """Operator persists outlive the plan that reads them; a driver
    sweep over hundreds of entries must not pile them up, so each
    wrapped call releases what the calls before it cached."""
    from pyspark.storagelevel import StorageLevel

    held = spark.range(10).persist()
    held.count()
    assert held.storageLevel != StorageLevel.NONE
    e.queries()["b01_scan_region"](spark, "/root/testdata/sf0.001")
    assert held.storageLevel == StorageLevel.NONE


def test_driver_order_puts_stalest_checks_first(tmp_path):
    """The driver re-checks only the head of queries() each round, so
    the head must be the entries whose newest passing driver row is
    oldest — never-checked and newly failed entries first."""
    import json

    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    no_oracle = {"rows_match": None, "schema_match": None, "hash_match": None,
                 "err": "no_oracle"}
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps(
        {"old": ok, "both": ok, "went_red": ok, "rows_only": no_oracle}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps(
        {"both": ok, "went_red": {**ok, "schema_match": False}}))
    (tmp_path / "CORRECTNESS_r12.json").write_text(json.dumps({"newest": ok}))

    build = ["newest", "never_a", "both", "went_red", "old", "never_b",
             "rows_only"]
    assert e.driver_order(build, root=str(tmp_path)) == [
        "never_a", "went_red", "never_b", "old", "rows_only", "both",
        "newest",
    ]
    assert e.driver_order(build, root=str(tmp_path / "none")) == build


def test_rotation_window_covers_never_checked():
    """The driver checks only the first 50 entries of queries() per
    round. On this checkout queries() is a permutation of the registry
    whose 50-entry head holds nothing fresher than anything after it,
    so every never-checked entry sits in the window when they fit."""
    import json

    from kafka_data_explorer_cdc_spark.queries import REGISTRY

    names = list(e.queries())
    assert sorted(names) == sorted(REGISTRY) and len(names) == len(REGISTRY)
    rounds = {}
    for p in REPO.glob("CORRECTNESS_r*.json"):
        rnd = int(p.stem.rsplit("_r", 1)[1])
        for name, row in json.loads(p.read_text()).items():
            passed = row["err"] in (None, "no_oracle") and False not in (
                row["rows_match"], row["schema_match"], row["hash_match"])
            if rnd > rounds.get(name, (-1, 0))[0]:
                rounds[name] = (rnd, rnd if passed else 0)
    fresh = [rounds.get(n, (0, 0))[1] for n in names]
    assert max(fresh[:50]) <= min(fresh[50:])
    never = [n for n in names if n not in rounds]
    if len(never) <= 50:
        assert set(never) <= set(names[:50])


def test_rotation_check_parses_two_digit_rounds(tmp_path):
    """Round numbers compare as numbers: r9 is older than r10 whatever
    the padding, so a row red in r9 and green in r10 reads as green, and
    an entry checked only in r10+ never reads as never-checked."""
    import json

    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    red = {**ok, "rows_match": False}
    (tmp_path / "CORRECTNESS_r9.json").write_text(json.dumps(
        {"old_entry": ok, "both": red}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps(
        {"new_entry": ok, "both": ok}))
    (tmp_path / "CORRECTNESS_r12.json").write_text(json.dumps({"newest": ok}))

    build = ["newest", "new_entry", "both", "old_entry", "never"]
    assert e.driver_order(build, root=str(tmp_path)) == [
        "never", "old_entry", "new_entry", "both", "newest",
    ]


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
