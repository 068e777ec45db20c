"""The dialect's two tables: ``_UNSUPPORTED`` (a name gated for every
argument list, with its ValueError message) and ``_RENAMES`` (a plain
rename to a Spark function), and the rule that ``_mapping()`` defines
each name once."""

from __future__ import annotations

import sys

import pytest

from clickhouse_learning_spark.functions import dialect
from clickhouse_learning_spark.functions.dialect import translate


def _reassigned_keys() -> set[str]:
    """Keys that ``_mapping()`` assigns more than once. Every line of its
    body is traced; a key whose value is not the one it held at the line
    before was assigned again."""
    code = dialect._mapping.__code__
    held: dict = {}
    again: set[str] = set()

    def local(frame, event, arg):
        m = frame.f_locals.get("m")
        if isinstance(m, dict):
            again.update(k for k, v in m.items()
                         if k in held and held[k] is not v)
            held.clear()
            held.update(m)
        return local

    old = sys.gettrace()
    sys.settrace(lambda frame, event, arg:
                 local if frame.f_code is code else None)
    try:
        dialect._mapping()
    finally:
        sys.settrace(old)
    return again


def test_mapping_assigns_each_key_once():
    """A second assignment silently replaces the first, which is then
    dead code. The tables are installed first, so a hand-written entry
    for a table name shows up here too."""
    assert _reassigned_keys() == set()


def test_a_name_is_in_at_most_one_table():
    assert not dialect._UNSUPPORTED.keys() & dialect._RENAMES.keys()


@pytest.mark.parametrize("name", sorted(dialect._UNSUPPORTED))
def test_unsupported_name_raises_its_message(name):
    with pytest.raises(ValueError) as e:
        translate(f"SELECT {name}(x) FROM t")
    assert str(e.value) == dialect._UNSUPPORTED[name]


@pytest.mark.parametrize("name", sorted(dialect._RENAMES))
def test_rename_translates_to_its_spark_function(name):
    """A rename keeps its arguments; one of fixed arity given one
    argument too many raises the arity check's message."""
    fn, arity = dialect._RENAMES[name]
    args = ", ".join("xyzw"[:arity or 2])
    assert translate(f"SELECT {name}({args}) FROM t") == (
        f"SELECT {fn}({args}) FROM t")
    if arity:
        with pytest.raises(ValueError) as e:
            translate(f"SELECT {name}({args}, v) FROM t")
        noun = "argument" if arity == 1 else "arguments"
        assert str(e.value) == f"{name} expects {arity} {noun}, got {arity + 1}"
