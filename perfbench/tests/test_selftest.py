"""Self-tests for the benchmark's pure pieces (no Spark).

Run from the checkout root:  python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import catalog, oracle, stats  # noqa: E402
from perfbench.trace import Tracer, self_times  # noqa: E402


# -- tail percentile -----------------------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    vals = list(range(1, 101))  # 100 samples
    p, v, n = stats.tail(vals)
    assert (p, v, n) == (90.0, 90, 100)  # p95 would leave only 5 beyond
    assert sum(x > v for x in vals) == 10


def test_tail_uses_highest_qualifying_percentile():
    assert stats.tail(range(1000))[:2] == (99.0, 989)  # 10 beyond p99
    assert stats.tail(range(10_000))[:2] == (99.9, 9989)
    p, v, _ = stats.tail(range(30))  # only p50 leaves >= 10 beyond
    assert (p, v) == (50.0, 14)


def test_tail_below_twenty_samples_reports_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)
    assert stats.tail(range(19))[:2] == (100.0, 18)
    assert stats.tail(range(20))[:2] == (50.0, 9)


def test_quartile_spread():
    assert stats.quartile_spread([10, 10, 10, 10]) == 0
    vals = [9, 10, 10, 11, 10, 10, 9, 11, 10, 10]
    q1, q2, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == (q3 - q1) / q2


# -- self time -----------------------------------------------------------------

def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),      # two children overlapping in time
        _span(3, 1, 2.0, 5.0),      # (other threads): union is [1, 5]
        _span(4, 2, 1.5, 2.5),      # grandchild: charged to span 2 only
        _span(5, 1, 9.0, 12.0),     # outlives the parent: clipped to [9, 10]
    ]
    got = self_times(spans)
    assert got[1] == 10.0 - 4.0 - 1.0
    assert got[2] == 2.0 - 1.0
    assert got[3] == 3.0
    assert got[4] == 1.0
    assert got[5] == 3.0


def test_tracer_nests_spans_per_thread_and_shares_op_id():
    t = Tracer()
    with t.operation("op-1"):
        with t.span("outer"):
            with t.span("inner"):
                pass
    outer = next(s for s in t.spans if s["name"] == "outer")
    inner = next(s for s in t.spans if s["name"] == "inner")
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["op"] == outer["op"] == "op-1"
    selfs = t.self_times()
    assert abs(selfs[outer["id"]] - ((outer["end"] - outer["start"])
                                    - (inner["end"] - inner["start"]))) < 1e-9


def test_wrap_function_patches_every_reference_and_unwraps():
    import types

    def boom(x):
        raise ValueError(x)

    home = types.ModuleType("synch_spark._selftest_home")
    user = types.ModuleType("synch_spark._selftest_user")
    home.boom = boom
    user.boom = boom  # as "from synch_spark._selftest_home import boom" leaves it
    sys.modules[home.__name__], sys.modules[user.__name__] = home, user
    try:
        t = Tracer()
        t.wrap_function(home, "boom", "layer.boom")
        assert home.boom is user.boom is not boom
        try:
            user.boom("x")
        except ValueError:
            pass
        else:
            raise AssertionError("the wrapper swallowed the error")
        assert [(s["name"], s["error"]) for s in t.spans] == [("layer.boom", "ValueError")]
        t.unwrap_all()
        assert home.boom is user.boom is boom
    finally:
        del sys.modules[home.__name__], sys.modules[user.__name__]


# -- CDC oracle ----------------------------------------------------------------

A, B, C = ("1.00", "a"), ("2.00", "b"), ("3.00", "c")


def test_merged_state_delete_then_reinsert_in_one_batch():
    initial = {1: A, 2: B}
    batches = [[
        ("delete", 1, A, None),
        ("insert", 1, None, C),     # re-insert of key 1, same batch
        ("update", 2, B, A),
        ("insert", 3, None, B),
        ("delete", 3, B, None),     # insert then delete: gone
    ]]
    assert oracle.merged_state(initial, batches) == {1: C, 2: A}


def test_merged_state_last_writer_wins_across_batches():
    batches = [[("insert", 5, None, A), ("update", 5, A, B)],
               [("update", 5, B, C)], [("delete", 5, C, None)]]
    assert oracle.merged_state({}, batches[:2]) == {5: C}
    assert oracle.merged_state({}, batches) == {}


def test_collapsing_state_cancels_sign_pairs():
    initial = {1: A}
    batches = [[
        ("insert", 2, None, B),     # +1
        ("delete", 2, B, None),     # -1: the pair cancels
        ("update", 1, A, C),        # -1 A, +1 C: key 1 survives as C
        ("delete", 1, C, None),
        ("insert", 1, None, B),     # delete + re-insert in one batch
    ]]
    assert oracle.collapsing_state(initial, batches) == {1: B}
    assert oracle.expected_state("collapsing_merge_tree", initial, batches) == {1: B}
    assert oracle.expected_state("replacing_merge_tree", initial, batches) == {1: B}


def test_diff_state_flags_duplicates_and_wrong_values():
    want = {1: A, 2: B}
    assert oracle.diff_state(want, [(1, *A), (2, *B)]) == []
    problems = oracle.diff_state(want, [(1, *A), (1, *A), (2, *C), (9, *A)])
    text = " ".join(problems)
    assert "duplicate key 1" in text and "wrong values" in text and "not expected" in text


def test_acceptable_reads_newest_committed_or_newer():
    history = [(-1, "insert", A), (4, "update", B), (7, "delete", None),
               (8, "insert", C)]
    assert oracle.acceptable_reads(history, 3) == {A, B, None, C}
    assert oracle.acceptable_reads(history, 4) == {B, None, C}
    assert oracle.acceptable_reads(history, 7) == {None, C}
    assert oracle.acceptable_reads(history, 9) == {C}


# -- catalog and BENCHMARK.json --------------------------------------------------

def test_benchmark_json_matches_catalog():
    path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
    with open(path) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(catalog.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in doc["end_to_end"]] \
        == [tuple(e) for e in catalog.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] \
        == [tuple(p[:3]) for p in catalog.PER_LAYER]
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names))
