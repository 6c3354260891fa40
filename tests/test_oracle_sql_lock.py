"""Text lock on the DuckDB oracle of every ``spark.ops`` query.

The sha256 of each ``SQL_OPS`` oracle string is compared with the digest
pinned in ``oracle_sql_lock.json``; no Spark session starts. The kernel
oracles that ``__spark_entry__.oracle_sql()`` adds are left out: they
embed the path the repo is checked out at. A refactor that is meant to
keep every oracle byte must leave this test green; a change to an oracle
on purpose re-pins with

    python tests/test_oracle_sql_lock.py --pin

and says why in its change notes.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

_TESTS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TESTS))

from nreadability_spark.spark.ops import SQL_OPS  # noqa: E402

LOCK_PATH = os.path.join(_TESTS, "oracle_sql_lock.json")


def _digests(oracles: dict[str, str]) -> dict[str, str]:
    return {name: hashlib.sha256(sql.encode("utf-8")).hexdigest()
            for name, sql in oracles.items()}


def _oracles() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in SQL_OPS.items()}


def _mismatches(oracles: dict[str, str]) -> list[str]:
    with open(LOCK_PATH) as f:
        pinned = json.load(f)
    got = _digests(oracles)
    return sorted(k for k in pinned.keys() | got.keys()
                  if pinned.get(k) != got.get(k))


def test_oracle_texts_match_lock():
    bad = _mismatches(_oracles())
    assert not bad, f"{len(bad)} oracle texts changed: {bad}"


def test_lock_fails_on_one_changed_byte():
    oracles = _oracles()
    name = sorted(oracles)[0]
    oracles[name] = oracles[name] + " "
    assert _mismatches(oracles) == [name]


if __name__ == "__main__":
    if sys.argv[1:] != ["--pin"]:
        sys.exit("usage: python tests/test_oracle_sql_lock.py --pin")
    lock = _digests(_oracles())
    with open(LOCK_PATH, "w") as f:
        json.dump(lock, f, indent=1, sort_keys=True)
        f.write("\n")
    print(len(lock), "oracles pinned")
