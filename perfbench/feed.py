"""Seeded Debezium customer feed with an independent plain-Python oracle.

The generator owns the ground truth: it applies every change event it
emits, in LSN order, to a dict of live rows. The engine under test only
ever sees the feed files it writes. Nothing here imports Spark or the
engine, so the oracle cannot share a bug with the program it checks.

Feed make-up (per batch of ``n`` lines):

- ``MALFORMED_SHARE`` of the lines are not JSON objects (a truncated
  envelope or a bare token). The enrichment must pass them through
  byte-identical.
- ``OPLESS_SHARE`` are JSON objects without ``op``. They are enriched
  with the UNKNOWN label and never applied.
- The rest are ``c``/``u``/``d`` events in the ``OP_MIX`` proportions.
  Updates and deletes pick their key from the newest live ids with an
  exponential skew (mean ``skew_mean`` ids back from the newest, cut at
  ``skew_cap``), so a batch touches the few id-range partitions at the
  top of the table.

Envelope shape, op labels and the customers row follow FIXTURES.md (the
reference's Debezium samples and enrichment function). The reference
documents no traffic rates, so every share and size below is a choice of
this benchmark; ``perfbench/README.md`` gives the reason for each.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field

#: email domains and their weights; the serving aggregate groups by domain.
#: A choice: a long-tailed spread gives groups of very different sizes,
#: and eleven of them keep the aggregate small enough to check exactly.
DOMAINS = (
    ("example.com", 24),
    ("mail.test", 18),
    ("corp.example", 14),
    ("inbox.test", 11),
    ("shop.example", 9),
    ("news.test", 7),
    ("dev.example", 6),
    ("uni.test", 5),
    ("gov.example", 3),
    ("tiny.test", 2),
    ("rare.example", 1),
)
#: choices: updates dominate an OLTP customer table; creates outnumber
#: deletes, so the table grows slowly over a run
OP_MIX = (("c", 0.30), ("u", 0.55), ("d", 0.15))
#: choices: "a small fraction" (FIXTURES.md section 2), enough that most
#: batches carry some of each
MALFORMED_SHARE = 0.01
OPLESS_SHARE = 0.005
#: choice: a share of updates change the email domain, so the MV's
#: groups move and not only their row counts
DOMAIN_MOVE_SHARE = 0.3
#: op code -> the label the enrichment must emit (reference op map)
LABELS = {"c": "CREATE", "u": "UPDATE", "d": "DELETE", "r": "READ"}
T0_MS = 1_760_000_000_000  # 2025-10-09, the feed's clock origin


@dataclass
class Batch:
    """One feed file's lines plus what the oracle expects from them."""

    lines: list[str]
    #: enrichment label -> number of lines that must carry it
    labels: Counter
    #: input lines that must come out of the enrichment unchanged
    malformed: list[str]
    #: c/u/d events (what the fold consumes)
    n_events: int


@dataclass
class Feed:
    """Deterministic change feed for one ``seed``; ``rows`` is the oracle."""

    seed: int
    #: choices: with 1,000 ids per table partition, every batch of a run
    #: touches the same 3 of the 7 partitions (ids 4000 and up), so a CoW
    #: batch rewrites a minority; a shorter mean leaves the lowest of them
    #: untouched in some rounds of some seeds, a mode that varies by seed
    skew_mean: float = 600.0
    skew_cap: int = 1800
    rows: dict[int, tuple[int, str, str, int]] = field(default_factory=dict)

    def __post_init__(self):
        self.rng = random.Random(self.seed)
        self._live: list[int] = []  # ascending: ids only grow
        self._next_id = 1
        self._lsn = 10_000_000
        self._tx = 500
        self._clock_ms = T0_MS
        self._domains = [d for d, _ in DOMAINS]
        self._weights = [w for _, w in DOMAINS]

    # -- oracle views ------------------------------------------------------

    def aggregate(self) -> dict[str, tuple[int, int]]:
        """domain -> (row count, sum of ids): the serving query's answer
        over the current live rows."""
        out: dict[str, list[int]] = {}
        for rid, _name, email, _created in self.rows.values():
            acc = out.setdefault(email.split("@")[1], [0, 0])
            acc[0] += 1
            acc[1] += rid
        return {d: tuple(v) for d, v in out.items()}

    # -- generation ----------------------------------------------------------

    def _new_row(self) -> tuple[int, str, str, int]:
        rid = self._next_id
        self._next_id += 1
        dom = self.rng.choices(self._domains, self._weights)[0]
        created = (T0_MS + rid * 37) * 1000 + self.rng.randrange(1000)
        return (rid, f"Customer {rid}", f"user{rid}.0@{dom}", created)

    def bootstrap(self, n: int) -> list[tuple[int, str, str, int]]:
        """The initial table: ``n`` rows with ids 1..n, not in the feed."""
        for _ in range(n):
            row = self._new_row()
            self.rows[row[0]] = row
            self._live.append(row[0])
        return [self.rows[i] for i in self._live]

    def _pick_key(self) -> int:
        while True:
            back = int(self.rng.expovariate(1.0 / self.skew_mean))
            if back <= self.skew_cap:
                break
        return self._live[max(0, len(self._live) - 1 - back)]

    @staticmethod
    def _image(row):
        if row is None:
            return None
        rid, name, email, created = row
        return {"id": rid, "name": name, "email": email, "created_at": created}

    def _envelope(self, op, before, after, with_op=True) -> str:
        self._lsn += self.rng.randrange(8, 64)
        self._tx += 1
        self._clock_ms += self.rng.randrange(1, 40)
        env = {
            "before": self._image(before),
            "after": self._image(after),
            "source": {
                "version": "1.9.7.Final",
                "connector": "postgresql",
                "name": "dbserver1",
                "ts_ms": self._clock_ms - 3,
                "snapshot": "false",
                "db": "inventory",
                "schema": "public",
                "table": "customers",
                "txId": self._tx,
                "lsn": self._lsn,
            },
            "op": op,
            "ts_ms": self._clock_ms,
        }
        if not with_op:
            del env["op"]
        return json.dumps(env, separators=(",", ":"))

    def _change(self) -> tuple[str, str]:
        op = self.rng.choices([o for o, _ in OP_MIX], [w for _, w in OP_MIX])[0]
        if op != "c" and len(self._live) < 2:
            op = "c"
        if op == "c":
            row = self._new_row()
            self.rows[row[0]] = row
            self._live.append(row[0])
            return op, self._envelope("c", None, row)
        rid = self._pick_key()
        before = self.rows[rid]
        if op == "d":
            del self.rows[rid]
            self._live.remove(rid)
            return op, self._envelope("d", before, None)
        _, _, email, created = before
        user, dom = email.split("@")
        version = int(user.rsplit(".", 1)[1]) + 1
        if self.rng.random() < DOMAIN_MOVE_SHARE:
            dom = self.rng.choices(self._domains, self._weights)[0]
        after = (rid, f"Customer {rid} v{version}",
                 f"user{rid}.{version}@{dom}", created)
        self.rows[rid] = after
        return op, self._envelope("u", before, after)

    def _malformed(self) -> str:
        if self.rng.random() < 0.5:
            # a truncated envelope: a strict prefix of a JSON object
            # never parses
            full = self._envelope("u", None, None)
            return full[: self.rng.randrange(10, len(full) - 1)]
        return f"#corrupt-{self.rng.getrandbits(48):012x}"

    def _opless(self) -> str:
        # an op-less object naming a live key; applying it would be a bug
        rid = self._pick_key()
        return self._envelope(None, None, self.rows[rid], with_op=False)

    def batch(self, n: int) -> Batch:
        """Next ``n`` feed lines; the oracle state advances past them."""
        lines: list[str] = []
        labels: Counter = Counter()
        malformed: list[str] = []
        n_events = 0
        for _ in range(n):
            r = self.rng.random()
            if r < MALFORMED_SHARE:
                line = self._malformed()
                malformed.append(line)
            elif r < MALFORMED_SHARE + OPLESS_SHARE:
                line = self._opless()
                labels["UNKNOWN"] += 1
            else:
                op, line = self._change()
                labels[LABELS[op]] += 1
                n_events += 1
            lines.append(line)
        return Batch(lines, labels, malformed, n_events)


def write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
