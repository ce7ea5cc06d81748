"""Unit tests for the shared query helpers.

``set_gate`` backs every LLM verify gate, and those gates are checked
against all-TRUE oracles, so an always-TRUE gate would pass the oracle
suite. These cases pin the FALSE answers too."""

from __future__ import annotations

from kafka_data_explorer_cdc_spark.queries.helpers import set_gate

_SCHEMA = "q_id long, c_id long"


def _gate(spark, ref, *, same=(), recall=()) -> dict[int, bool]:
    def df(rows):
        return spark.createDataFrame(rows, _SCHEMA)

    out = set_gate(
        ["q_id", "c_id"],
        df(ref),
        same=[(df(rows), pid) for rows, pid in same],
        recall=[(df(rows), bound, pid) for rows, bound, pid in recall],
    )
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("probe_id", "bigint"),
        ("ok", "boolean"),
    ]
    rows = out.collect()
    assert len(rows) == len(same) + len(recall)
    return {r.probe_id: r.ok for r in rows}


REF = [(1, 10), (1, 11), (2, 20), (2, 21)]


def test_set_gate_same(spark):
    assert _gate(spark, REF, same=[(list(reversed(REF)), -1)]) == {-1: True}
    assert _gate(spark, REF, same=[(REF[:3], -1)]) == {-1: False}
    assert _gate(spark, REF, same=[(REF + [(3, 30)], -1)]) == {-1: False}
    # a duplicated row on either side is still the same set
    assert _gate(spark, REF, same=[(REF + [REF[0]], -1)]) == {-1: True}
    assert _gate(spark, REF + [REF[1]], same=[(REF, -1)]) == {-1: True}


def test_set_gate_recall_bound(spark):
    half = [REF[0], REF[2], (9, 90)]  # 2 of the 4 ref rows, 1 outside
    assert _gate(spark, REF, recall=[(half, 0.5, -2)]) == {-2: True}
    assert _gate(spark, REF, recall=[(half, 0.51, -2)]) == {-2: False}
    assert _gate(spark, REF, recall=[(REF[:1], 0.5, -2)]) == {-2: False}
    # duplicates neither inflate the hits nor the reference count
    assert _gate(spark, REF, recall=[(half + [REF[0]] * 3, 0.51, -2)]) == {
        -2: False
    }
    assert _gate(spark, REF + [REF[1]] * 3, recall=[(half, 0.5, -2)]) == {
        -2: True
    }


def test_set_gate_empty_sides(spark):
    assert _gate(spark, [], same=[([], -1)], recall=[([], 0.5, -2)]) == {
        -1: True,
        -2: True,
    }
    assert _gate(spark, [], same=[(REF[:1], -1)]) == {-1: False}
    assert _gate(spark, REF[:1], same=[([], -1)]) == {-1: False}


def test_set_gate_probes_are_independent(spark):
    got = _gate(
        spark,
        REF,
        same=[(REF, -1), (REF[1:], -2)],
        recall=[(REF[:2], 0.5, -3)],
    )
    assert got == {-1: True, -2: False, -3: True}
    got = _gate(
        spark,
        REF,
        same=[(REF[1:], -1), (REF, -2)],
        recall=[(REF[:1], 0.5, -3)],
    )
    assert got == {-1: False, -2: True, -3: False}


def test_set_gate_null_keys_compare_equal(spark):
    ref = REF + [(3, None)]
    assert _gate(spark, ref, same=[(ref, -1)]) == {-1: True}
    assert _gate(spark, ref, same=[(REF, -1)]) == {-1: False}
