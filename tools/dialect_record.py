"""Record what every entry of the dialect's function table returns.

    python tools/dialect_record.py [OUT]

Calls each key of ``functions.dialect._MAPPING``, in sorted order,
with each argument list of a fixed battery and writes one JSON line
per (key, argument list) to OUT (default: stdout). A line holds the
SQL the entry returns, or the class and message of the exception it
raises. Two trees translate every function alike when their records
are byte-identical:

    (cd parent && python tools/dialect_record.py /tmp/a.jsonl)
    (cd change && python tools/dialect_record.py /tmp/b.jsonl)
    cmp /tmp/a.jsonl /tmp/b.jsonl
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BATTERY = (
    [], ["x"], ["x", "y"], ["x", "y", "z"], ["1", "2", "3", "4"],
    ["'a'"], ["1"], ["1", "2"],
)


def records():
    """One dict per (key, argument list) of the battery."""
    from clickhouse_learning_spark.functions.dialect import _MAPPING

    for key in sorted(_MAPPING):
        for args in BATTERY:
            rec = {"key": key, "args": args}
            try:
                rec["out"] = _MAPPING[key](list(args))
            except Exception as e:  # the record is the exception
                rec["raises"] = type(e).__name__
                rec["msg"] = str(e)
            yield rec


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    out = open(argv[0], "w", encoding="utf-8") if argv else sys.stdout
    try:
        for rec in records():
            out.write(json.dumps(rec, ensure_ascii=False) + "\n")
    finally:
        if out is not sys.stdout:
            out.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
