"""Output checks: every op's result against DuckDB on the same parquet.

Registry queries are compared the way ``tools/oracle_check.py``
compares them (row count, column set, types, then the
order-insensitive hash from its canonicaliser, imported from there).
The trace viewer's catalog and clicks are compared against DuckDB SQL
written here. ``dedup_minhash_lsh`` has no oracle, so its candidate
pairs are checked against the near duplicates the generator planted
and against exact shingle Jaccard.
"""

from __future__ import annotations

import calendar
import re

import duckdb

from tools.oracle_check import TABLES, canon_rows, duck_type_to_spark


class CheckError(Exception):
    """An op's output differs from its reference."""


def connect(data_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def expect_query(con, oracle_sql: str) -> dict:
    """The reference answer of one registry query's oracle SQL."""
    res = con.sql(oracle_sql)
    cols = list(res.columns)
    rows = res.fetchall()
    return {
        "rows": len(rows),
        "types": dict(zip(cols, (duck_type_to_spark(str(t)) for t in res.types))),
        "hash": canon_rows(cols, rows),
    }


def compare_query(df, expected: dict) -> int:
    """Collect ``df`` and compare it with ``expected``; returns the row
    count, raises CheckError on any difference."""
    cols = df.columns
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    rows = [tuple(r) for r in df.collect()]
    if len(rows) != expected["rows"]:
        raise CheckError(f"rowcount {len(rows)} != {expected['rows']}")
    if types != expected["types"]:
        raise CheckError(f"schema {types} != {expected['types']}")
    got = canon_rows(cols, rows)
    if got != expected["hash"]:
        raise CheckError(f"hash {got} != {expected['hash']}")
    return len(rows)


# ----------------------------------------------------------- trace viewer

CATALOG_SQL = """
SELECT event_type, epoch_us(ts) AS first_ts, event_id AS first_event_id,
       array_to_string(json_keys(props), ',') AS schema_keys, n_events
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n_events
    FROM events
) WHERE rn = 1
"""

CLICKS_SQL = """
SELECT event_type, event_id, epoch_us(ts), user_id, value, props
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) rn
    FROM events
) WHERE rn <= {limit}
ORDER BY event_type, ts, event_id
"""


def _us(dt) -> int:
    # collected timestamps are naive datetimes in the process time zone,
    # which the benchmark pins to UTC
    return calendar.timegm(dt.timetuple()) * 1_000_000 + dt.microsecond


def expect_catalog(con) -> dict[str, tuple]:
    return {r[0]: tuple(r) for r in con.sql(CATALOG_SQL).fetchall()}


def expect_clicks(con, limit: int) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = {}
    for r in con.sql(CLICKS_SQL.format(limit=limit)).fetchall():
        out.setdefault(r[0], []).append(tuple(r[1:]))
    return out


def compare_catalog(rows, expected: dict[str, tuple]) -> None:
    got = {
        r.event_type: (
            r.event_type, _us(r.first_ts), r.first_event_id,
            ",".join(r.schema_keys), r.n_events,
        )
        for r in rows
    }
    if got != expected:
        bad = sorted(k for k in expected.keys() | got.keys()
                     if got.get(k) != expected.get(k))
        raise CheckError(f"catalog differs for {len(bad)} types, e.g. {bad[:3]}")


def compare_click(rows, expected: list[tuple]) -> None:
    got = [(r.event_id, _us(r.ts), r.user_id, r.value, r.props) for r in rows]
    if got != expected:
        raise CheckError(f"click rows differ ({len(got)} vs {len(expected)} rows)")


# ----------------------------------------------------------- near duplicates


def _shingles(text: str, n: int = 3) -> set[str]:
    words = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    return {" ".join(words[i : i + n]) for i in range(max(len(words) - n, 0) + 1)}


def compare_minhash(rows, texts: dict[int, str], planted: list) -> int:
    """Every planted (original, copy) pair whose texts differ must be a
    candidate; every candidate must be a real near duplicate (exact
    3-shingle Jaccard >= 0.3, estimate within 0.25 of it)."""
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in rows}
    missing = [
        (a, b) for a, b in planted
        if texts[a] != texts[b] and (min(a, b), max(a, b)) not in pairs
    ]
    if missing:
        raise CheckError(f"{len(missing)} planted near-dup pairs missed, e.g. {missing[:3]}")
    for (a, b), est in pairs.items():
        sa, sb = _shingles(texts[a]), _shingles(texts[b])
        exact = len(sa & sb) / len(sa | sb)
        if exact < 0.3 or abs(exact - est) > 0.25:
            raise CheckError(f"pair {(a, b)}: est {est:.3f}, exact {exact:.3f}")
    return len(pairs)
