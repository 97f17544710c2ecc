"""The generator's oracle against an independent DuckDB fold of the same
feed files: latest image per key by ``source.lsn``, label counts, the
malformed lines, and the per-domain aggregate.

    python3 -m pytest perfbench/test_feed.py -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from feed import Feed, write_lines  # noqa: E402

LINES = """
    SELECT line, CASE WHEN json_valid(line) THEN json_type(line) = 'OBJECT'
                      ELSE false END AS ok
    FROM (SELECT unnest(string_split(rtrim(content, chr(10)), chr(10))) AS line
          FROM read_text(?))
"""


def duckdb_fold(con, feed_glob: str) -> dict[int, tuple]:
    """Live rows after folding table ``boot`` and the feed files: the
    image with the highest LSN per key, unless that image is a delete."""
    rows = con.execute(f"""
        WITH lines AS ({LINES}),
        events AS (
            SELECT json_extract_string(line, '$.op') AS op,
                   CAST(json_extract(line, '$.source.lsn') AS BIGINT) AS lsn,
                   coalesce(CAST(json_extract(line, '$.after.id') AS BIGINT),
                            CAST(json_extract(line, '$.before.id') AS BIGINT)) AS id,
                   json_extract_string(line, '$.after.name') AS name,
                   json_extract_string(line, '$.after.email') AS email,
                   CAST(json_extract(line, '$.after.created_at') AS BIGINT) AS created_at
            FROM lines
            WHERE ok
        ),
        changes AS (
            SELECT id, 0 AS lsn, 'r' AS op, name, email, created_at FROM boot
            UNION ALL
            SELECT id, lsn, op, name, email, created_at FROM events
            WHERE op IN ('c', 'u', 'd')
        )
        SELECT id, name, email, created_at, op FROM changes
        QUALIFY row_number() OVER (PARTITION BY id ORDER BY lsn DESC) = 1
    """, [feed_glob]).fetchall()
    return {r[0]: r[:4] for r in rows if r[4] != "d"}


def duckdb_labels(con, path: str) -> tuple[Counter, Counter]:
    rows = con.execute(f"""
        WITH lines AS ({LINES})
        SELECT line, ok,
               CASE WHEN NOT ok THEN NULL
                    ELSE CASE json_extract_string(line, '$.op')
                        WHEN 'c' THEN 'CREATE' WHEN 'u' THEN 'UPDATE'
                        WHEN 'd' THEN 'DELETE' WHEN 'r' THEN 'READ'
                        ELSE 'UNKNOWN' END END AS label
        FROM lines
    """, [path]).fetchall()
    labels = Counter(label for _, ok, label in rows if ok)
    malformed = Counter(line for line, ok, _ in rows if not ok)
    return labels, malformed


@pytest.mark.parametrize("seed", [1, 2, 7])
def test_oracle_matches_duckdb_fold(tmp_path, seed):
    feed = Feed(seed)
    con = duckdb.connect()
    con.execute("CREATE TABLE boot (id BIGINT, name VARCHAR, "
                "email VARCHAR, created_at BIGINT)")
    con.executemany("INSERT INTO boot VALUES (?, ?, ?, ?)", feed.bootstrap(3000))
    for r in range(6):
        batch = feed.batch(400)
        path = str(tmp_path / f"r{r:03d}.json")
        write_lines(path, batch.lines)

        labels, malformed = duckdb_labels(con, path)
        assert labels == batch.labels
        assert malformed == Counter(batch.malformed)
        assert sum(labels.values()) + len(batch.malformed) == len(batch.lines)

        live = duckdb_fold(con, str(tmp_path / "r*.json"))
        assert live == feed.rows
        agg = con.execute("""
            SELECT split_part(email, '@', 2), count(*), CAST(sum(id) AS BIGINT)
            FROM (SELECT unnest(?) AS email, unnest(?) AS id) GROUP BY 1
        """, [[v[2] for v in live.values()], list(live)]).fetchall()
        assert {d: (n, s) for d, n, s in agg} == feed.aggregate()


def test_feed_shape():
    """Same seed, same feed; every line kind occurs; the skew keeps
    updates near the newest ids."""
    a, b = Feed(5), Feed(5)
    a.bootstrap(2000), b.bootstrap(2000)
    la, lb = a.batch(2000), b.batch(2000)
    assert la.lines == lb.lines
    assert Feed(6).batch(50).lines != Feed(5).batch(50).lines
    assert la.malformed and la.labels["UNKNOWN"] and la.labels["DELETE"]
    newest = max(a.rows)
    touched = [rid for rid in b.rows if b.rows[rid][1] != f"Customer {rid}"]
    assert min(touched) > newest - 4000
