"""The entry contract's registry: queries() is built from the q_*
definitions and ordered by _SAMPLE_HEAD. Planning-free - no
SparkSession is started."""

import inspect

import __spark_entry__ as e


def _defined_names() -> set[str]:
    return {
        name[2:]
        for name, fn in inspect.getmembers(e, inspect.isfunction)
        if name.startswith("q_") and fn.__module__ == e.__name__
    }


def test_queries_and_oracles_cover_every_q_function():
    defined = _defined_names()
    assert len(defined) == 163
    assert set(e.queries()) == defined
    assert set(e.queries(cached=False)) == defined
    assert set(e.oracle_sql()) == defined
    for name, fn in e.queries(cached=False).items():
        assert fn is getattr(e, f"q_{name}")


def test_sample_head_is_a_unique_prefix_of_existing_queries():
    head = list(e._SAMPLE_HEAD)
    assert len(head) == len(set(head))
    assert len(head) <= 50
    assert set(head) <= _defined_names()
    assert list(e.queries())[: len(head)] == head
    assert list(e.queries(cached=False))[: len(head)] == head
