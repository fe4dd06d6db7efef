"""The query registry contract: 132 queries, 132 DuckDB oracles, oracle SQL
pinned byte for byte, and one registration per name. No Spark needed."""

from __future__ import annotations

import hashlib

import pytest

import __spark_entry__ as entrymod
from ocrautomator_spark.queries.common import ORACLES, QUERIES, q

N_QUERIES = 132
# sha256 over the sorted (name, sql) pairs of oracle_sql(), each field
# NUL-terminated. A change to any oracle's SQL, or an added or dropped oracle,
# moves it: update it only together with the oracle change it records.
ORACLE_SQL_SHA256 = "a196e439a0a9f010aa270a222e0dcf375c5c10c129757fa2abc2acfb22308ae6"


def _oracle_digest(oracles: dict[str, str]) -> str:
    h = hashlib.sha256()
    for name, sql in sorted(oracles.items()):
        h.update(name.encode() + b"\0" + sql.encode() + b"\0")
    return h.hexdigest()


def test_registry_size_and_oracle_fingerprint():
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert len(queries) == len(oracles) == N_QUERIES
    assert _oracle_digest(oracles) == ORACLE_SQL_SHA256


def test_registering_an_existing_name_raises():
    name = next(iter(QUERIES))
    before = (QUERIES[name], ORACLES.get(name))
    with pytest.raises(ValueError, match=name):
        q(name, "SELECT 1")(lambda spark, sf_dir: None)
    assert (QUERIES[name], ORACLES.get(name)) == before
    assert len(QUERIES) == N_QUERIES
