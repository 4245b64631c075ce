"""The query registry behind ``__spark_entry__.queries()`` and
``oracle_sql()``.  Pure Python: no Spark job runs."""

import inspect

import __spark_entry__ as entry

OK = {"err": None, "hash_match": True}
ROWS_ONLY = {"err": "no_oracle", "hash_match": None}
MISMATCH = {"err": None, "hash_match": False}


def test_every_q_function_registered_once():
    q_fns = {n[2:]: f for n, f in vars(entry).items()
             if n.startswith("q_") and inspect.isfunction(f)}
    names = [name for name, _, _ in entry._QUERIES]
    assert len(names) == len(set(names))
    assert sorted(names) == sorted(q_fns)
    for name, fn, _ in entry._QUERIES:
        assert q_fns[name] is fn


def test_query_maps_come_from_the_registry():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert sorted(qs) == sorted(name for name, _, _ in entry._QUERIES)
    assert set(oracles) <= set(qs)
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_window_order_never_verified_first_then_oldest():
    names = ["a", "b", "c", "d", "e", "f"]
    rounds = {
        1: {"a": OK, "c": OK, "e": MISMATCH},
        2: {"c": OK, "d": ROWS_ONLY, "b": MISMATCH},
        3: {"a": OK, "f": {"err": "timeout", "hash_match": None}},
    }
    # counted rounds: a -> 3, c -> 2, d -> 2; b, e, f never verified
    assert entry._window_order(names, rounds) == ["b", "e", "f", "c", "d", "a"]


def test_window_order_ties_and_no_rounds_keep_definition_order():
    names = ["z", "y", "x", "w"]
    assert entry._window_order(names, {}) == names
    same = {4: {n: OK for n in names}}
    assert entry._window_order(names, same) == names
    assert entry._window_order(names, {1: {"y": OK}, 2: {"w": OK}}) == ["z", "x", "y", "w"]
