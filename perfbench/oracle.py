"""Expected CDC table state, computed in plain Python from the generated
event list — never through synch_spark.

An event is a tuple ``(op, key, before, after)`` with ``op`` one of
``insert``, ``update``, ``delete`` and ``before``/``after`` row tuples
(or None). Rows are ``(amount, name)`` value tuples; the key is the pk.
"""

from __future__ import annotations

MERGING = ("merge_tree", "replacing_merge_tree")
COLLAPSING = "collapsing_merge_tree"


def merged_state(initial: dict, batches) -> dict:
    """MergeTree / ReplacingMergeTree FINAL state: per batch, each key's
    last event wins; the batch's deletes apply before its inserts, so a
    delete and re-insert of one key inside a batch leaves the
    re-inserted row."""
    state = dict(initial)
    for batch in batches:
        last: dict = {}
        for op, key, _before, after in batch:
            last[key] = (op, after)
        for key, (op, _after) in last.items():
            if op == "delete":
                state.pop(key, None)
        for key, (op, after) in last.items():
            if op != "delete":
                state[key] = after
    return state


def collapsing_state(initial: dict, batches) -> dict:
    """CollapsingMergeTree FINAL state by sign cancellation: the initial
    load writes +1 rows; an insert writes +1, a delete -1 (before
    image), an update -1 before and +1 after. A key survives when its
    signs sum above zero, with the attributes of its latest +1 row."""
    net: dict = {}
    latest: dict = {}
    for key, row in initial.items():
        net[key] = net.get(key, 0) + 1
        latest[key] = row
    for batch in batches:
        for op, key, _before, after in batch:
            if op in ("delete", "update"):
                net[key] = net.get(key, 0) - 1
            if op in ("insert", "update"):
                net[key] = net.get(key, 0) + 1
                latest[key] = after
    return {k: latest[k] for k, s in net.items() if s > 0}


def expected_state(engine: str, initial: dict, batches) -> dict:
    if engine in MERGING:
        return merged_state(initial, batches)
    if engine == COLLAPSING:
        return collapsing_state(initial, batches)
    raise ValueError(f"no oracle for engine {engine!r}")


def diff_state(expected: dict, rows) -> list[str]:
    """Compare a table read back as ``(key, amount, name)`` rows against
    the expected {key: (amount, name)}; duplicates count as wrong."""
    problems: list[str] = []
    got: dict = {}
    for key, amount, name in rows:
        if key in got:
            problems.append(f"duplicate key {key}")
        got[key] = (amount, name)
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        problems.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} keys not expected, e.g. {sorted(extra)[:3]}")
    wrong = [k for k in expected.keys() & got.keys() if expected[k] != got[k]]
    if wrong:
        k = sorted(wrong)[0]
        problems.append(f"{len(wrong)} keys with wrong values, e.g. {k}: "
                        f"{got[k]} != {expected[k]}")
    return problems[:5]


def acceptable_reads(history, committed_upto: int) -> set:
    """Values a FINAL point read may return for one key: the newest value
    committed when the read started, or any value written after it.

    ``history`` is the key's event list in write order as
    ``(index, op, after)``, with a bootstrapped row as index -1;
    ``committed_upto`` is the highest event index whose commit had
    returned when the read began. None stands for "key absent"."""
    ok: set = set()
    base = None
    for idx, op, after in history:
        value = None if op == "delete" else after
        if idx <= committed_upto:
            base = value
        else:
            ok.add(value)
    ok.add(base)
    return ok
