"""Correctness checks, run outside the timed region.

Extraction output (backfill):
  * exactly once: rows and distinct (conv_id, turn_idx) both equal the input
    turn count, and every output key is an input key;
  * per-turn equality against ``extract_one`` on a seeded sample of turns;
  * every output file is ordered by (conv_id, turn_idx);
  * ``extractor_version`` equals ``EXTRACTOR_VERSION``.

Headline queries: each query's rows, canonicalised as the oracle-parity
test does, equal its DuckDB oracle's rows.

Each check reports how many turns (or queries) it failed, so a failure
counts in ``failed`` rather than only flipping a flag.
"""

from __future__ import annotations

import math
import pathlib
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ocrautomator_spark.kernel.extractor import EXTRACTOR_VERSION, extract_one

EQUALITY_SAMPLE = 300


@dataclass
class CheckResult:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.problems.append(why)


def _keys(t: pa.Table) -> list[tuple[str, int]]:
    return list(zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist()))


def check_extraction(input_table: pa.Table, files: list[pathlib.Path], seed: int) -> CheckResult:
    res = CheckResult(attempted=input_table.num_rows)
    n_in = input_table.num_rows
    parts = []
    for f in files:
        t = pq.read_table(f)
        keys = _keys(t)
        if keys != sorted(keys):
            res.fail(t.num_rows, f"{f.name}: not ordered by (conv_id, turn_idx)")
        parts.append(t)
    if not parts:
        res.fail(n_in, "no output files")
        return res
    out = pa.concat_tables(parts, promote_options="default")

    if out.num_rows != n_in:
        res.fail(abs(out.num_rows - n_in), f"rows {out.num_rows} != input turns {n_in}")
    out_keys = _keys(out)
    distinct = set(out_keys)
    if len(distinct) != n_in:
        res.fail(abs(len(distinct) - n_in), f"distinct keys {len(distinct)} != input turns {n_in}")
    in_text = dict(zip(_keys(input_table), input_table.column("text").to_pylist()))
    stray = distinct - in_text.keys()
    if stray:
        res.fail(len(stray), f"{len(stray)} output keys not in the input")

    versions = pc.unique(out.column("extractor_version")).to_pylist()
    if versions != [EXTRACTOR_VERSION]:
        bad = out.num_rows - pc.sum(pc.equal(out.column("extractor_version"), EXTRACTOR_VERSION)).as_py()
        res.fail(bad, f"extractor_version {versions} != {EXTRACTOR_VERSION}")

    errors = pc.sum(pc.equal(out.column("payload_kind"), "error")).as_py() or 0
    if errors:
        res.fail(errors, f"{errors} turns extracted as error")

    rng = random.Random(f"equality|{seed}")
    row_of = {k: i for i, k in enumerate(out_keys)}
    sample = rng.sample(sorted(in_text), min(EQUALITY_SAMPLE, n_in))
    texts = out.column("extracted_text")
    spans = out.column("spans")
    kinds = out.column("payload_kind")
    mismatched = 0
    for key in sample:
        i = row_of.get(key)
        if i is None:
            continue  # already counted as a missing row
        want = extract_one(in_text[key])
        got_spans = [(s["start"], s["end"], s["kind"]) for s in spans[i].as_py()]
        if (
            texts[i].as_py() != want.extracted_text
            or kinds[i].as_py() != want.payload_kind
            or got_spans != [tuple(s) for s in want.spans]
        ):
            mismatched += 1
    if mismatched:
        res.fail(mismatched, f"{mismatched}/{len(sample)} sampled turns differ from extract_one")
    return res


# ---- query results vs DuckDB oracles (as tests/test_oracle_parity.py) ----

ORACLE_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canonical_rows(col_names: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def oracle_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def matches_oracle(con, oracle_sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """None when ``rows`` equal the oracle's, else what differs."""
    res = con.execute(oracle_sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if sorted(cols) != sorted(duck_cols):
        return f"columns {sorted(cols)} != oracle {sorted(duck_cols)}"
    if len(rows) != len(duck_rows):
        return f"{len(rows)} rows != oracle {len(duck_rows)}"
    if canonical_rows(cols, rows) != canonical_rows(duck_cols, duck_rows):
        return "values differ from oracle"
    return None
