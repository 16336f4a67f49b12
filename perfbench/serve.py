"""serve: single-key reads and writes through RetrieveService / IngestService.

Closed loop, one client (the main thread); ``LocalChannel`` is
synchronous, so each call returns before the next is sent. The op sequence
is fixed by the seed and the run length, never by how fast ops complete,
so every run of a seed ends in the same commit-log state.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import gen
from model import Model

SIZE = 500_000
PARTS = 6
MIX = (("get", 0.60), ("list", 0.15), ("ingest", 0.15), ("commit", 0.10))
OPS_PER_SECOND = 2.0  # sequence length = round(seconds * OPS_PER_SECOND)
RECENT = 6  # read-your-writes targets come from the last RECENT writes
STRING_ATTRS = tuple(a for a in gen.SCALARS if a != gen.INTEGER_ATTR)
ALL_CELLS = gen.SCALARS + gen.DEVICES
T_END_MS = gen.T0_MS + SIZE * gen.STEP_MS

ENTITY = gen.ENTITY
TXN_COMMITTED, TXN_REJECTED = 1, 2


def prepare(seed: int, cache: str) -> str:
    d = os.path.join(cache, f"serve-s{seed}-n{SIZE}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_parts(gen.changelog(seed, SIZE), tmp, PARTS)
        os.rename(tmp, d)
    return d


class Planner:
    """Draws the fixed op sequence of one seed."""

    def __init__(self, seed: int, stream: int) -> None:
        self.rng = np.random.default_rng([seed, stream])
        self.keys = gen.KeySampler(seed)
        self.recent: list[tuple[str, str]] = []
        self.fresh = 0
        self.used: set[int] = set()
        self.commits = 0

    def key(self) -> str:
        return gen.key_name(int(self.keys.ids(self.rng, 1)[0]))

    def stamp(self, old: bool) -> int:
        """A write stamp no other element has: odd milliseconds."""
        if not old:
            self.fresh += 1
            return T_END_MS + 2 * self.fresh + 1
        while True:
            s = gen.T0_MS + 2 * int(self.rng.integers(0, SIZE * gen.STEP_MS // 4)) + 1
            if s not in self.used:
                self.used.add(s)
                return s

    def cell(self) -> tuple[str, str]:
        if self.recent and self.rng.random() < 0.3:
            return self.recent[int(self.rng.integers(0, len(self.recent)))]
        return self.key(), ALL_CELLS[int(self.rng.integers(0, len(ALL_CELLS)))]

    def wrote(self, key: str, attr: str) -> None:
        if attr != gen.WILDCARD:  # reads and transactions address instances
            self.recent = (self.recent + [(key, attr)])[-RECENT:]

    def write_attr(self) -> str:
        if self.rng.random() < 0.5:
            return STRING_ATTRS[int(self.rng.integers(0, len(STRING_ATTRS)))]
        return gen.DEVICES[int(self.rng.integers(0, len(gen.DEVICES)))]

    def op(self, kind: str, i: int) -> tuple:
        if kind == "get":
            return ("get",) + self.cell()
        if kind == "list":
            return ("list", self.cell()[0])
        if kind == "ingest":
            key = self.cell()[0]
            a1, a2 = STRING_ATTRS[int(self.rng.integers(0, len(STRING_ATTRS)))], self.write_attr()
            wildcard = self.rng.random() < 0.3
            a3 = gen.WILDCARD if wildcard else self.write_attr()
            elems = [
                (key, a1, f"put-{i}".encode(), self.stamp(self.rng.random() < 0.3), False),
                (key, a2, f"put2-{i}".encode(), self.stamp(self.rng.random() < 0.3), False),
                (key, a3, None, self.stamp(self.rng.random() < 0.3), True),
                (key, gen.INTEGER_ATTR, b"not-a-number", self.stamp(False), False),
            ]
            for e in elems[:3]:
                self.wrote(key, e[1])
            return ("ingest", elems)
        key, attr = self.cell()
        if attr == gen.INTEGER_ATTR:
            attr = gen.SCALARS[0]
        self.commits += 1
        conflict = self.commits % 2 == 0  # every second transaction conflicts
        self.wrote(key, attr)
        return ("commit", conflict, key, attr, f"txn-{i}".encode(), self.stamp(False),
                self.stamp(False))

    def sequence(self, n: int) -> list[tuple]:
        kinds = [k for k, _ in MIX]
        counts = [int(round(n * share)) for _, share in MIX]
        seq = [k for k, c in zip(kinds, counts) for _ in range(c)]
        order = self.rng.permutation(len(seq))
        return [self.op(seq[j], i) for i, j in enumerate(order)]


def _same_get(resp: dict, want) -> bool:
    if want is None:
        return resp.get("status") == 404
    return (resp.get("status"), resp.get("value"), resp.get("stamp")) == (200, want[0], want[1])


class Serve:
    name = "serve"
    reps = 1  # a second set-up would spend 5 s of the run budget; see WORKLOADS.md

    def __init__(self, seed: int, seconds: int, cache: str, work: str) -> None:
        self.inputs = prepare(seed, cache)
        self.work = work
        self.base = Model.of(pq.read_table(self.inputs))
        self.user_bytes = gen.user_bytes(self.inputs)
        self.plan = Planner(seed, 1).sequence(max(len(MIX), round(seconds * OPS_PER_SECOND)))
        self.warmup = [Planner(seed, 2).op(k, -1 - n) for n, (k, _) in enumerate(MIX)]
        self.failures: list[str] = []

    # -- set-up ---------------------------------------------------------------

    def setup(self, spark, rec, rep: int) -> None:
        """Build catalog, DataOperator, server and clients over a fresh copy of
        the commit log and warm every op kind once."""
        from proxima_platform_spark.catalog.repository import Repository
        from proxima_platform_spark.server import (
            IngestClient, LocalChannel, RetrieveClient, RpcServer,
        )
        from proxima_platform_spark.sources.registry import DataOperator

        self.log = os.path.join(self.work, f"commit-log-{rep}")
        shutil.rmtree(self.log, ignore_errors=True)
        shutil.copytree(self.inputs, self.log)
        self.model = self.base.copy()
        repo = Repository.of(gen.repo_config(self.log))
        ch = LocalChannel(RpcServer(DataOperator(repo, spark)))
        self.ingest_client, self.retrieve = IngestClient(ch), RetrieveClient(ch)
        for spec in self.warmup:
            self.run_op(rec, spec, timed=False)

    def verify(self) -> None:
        """Warm-up answers are checked inline, like every other op."""

    # -- ops ------------------------------------------------------------------

    def run(self, rec) -> None:
        for spec in self.plan:
            self.run_op(rec, spec, timed=True)

    def run_op(self, rec, spec: tuple, *, timed: bool) -> None:
        kind = spec[0]
        elements = {"ingest": 4, "commit": 1 + int(bool(spec[1]))}.get(kind, 0)
        try:
            with rec.op(kind, timed=timed, elements=elements) as o:
                result = getattr(self, "_" + kind)(spec)
            o.ok, o.rejects, o.rows = self._check(kind, spec, result)
            if not o.ok:
                self.failures.append(f"mismatch {spec!r}: {result!r}"[:600])
        except Exception as ex:  # an exception is a failed op
            self.failures.append(f"{kind}: {ex!r}"[:300])
            rec.ops[-1].ok = False

    def _get(self, spec):
        return self.retrieve.get(entity=ENTITY, key=spec[1], attribute=spec[2])

    def _list(self, spec):
        return self.retrieve.list_attributes(entity=ENTITY, key=spec[1], wildcard_prefix="device")

    def _ingest(self, spec):
        bulk = {"ingest": [
            {"uuid": f"w{n}", "entity": ENTITY, "key": k, "attribute": a,
             "value": v or b"", "stamp": s, "delete": d}
            for n, (k, a, v, s, d) in enumerate(spec[1])
        ]}
        return list(self.ingest_client.ingest_bulk([bulk]))

    def _commit(self, spec):
        """begin → transactional get → transactional ingest → commit. A
        conflicting op lets a second transaction commit the same cell
        between the first one's read and its commit."""
        _, conflict, key, attr, value, stamp, stamp2 = spec
        txn = self.retrieve.begin()
        read = self.retrieve.get(entity=ENTITY, key=key, attribute=attr, transaction_id=txn)
        other = None
        if conflict:
            t2 = self.retrieve.begin()
            self.ingest_client.ingest(entity=ENTITY, key=key, attribute=attr,
                                      value=value + b"-other", stamp=stamp2,
                                      transaction_id=t2)
            other = self.ingest_client.commit(t2)
        st = self.ingest_client.ingest(entity=ENTITY, key=key, attribute=attr, value=value,
                                       stamp=stamp, transaction_id=txn)
        return read, other, st, self.ingest_client.commit(txn)

    # -- checks against the model ---------------------------------------------

    def _check(self, kind: str, spec: tuple, result) -> tuple[bool, int, int | None]:
        """(answer matches the model, 4xx/REJECTED answers seen, rows read)."""
        m = self.model
        if kind == "get":
            st = result.get("status", 0)
            return _same_get(result, m.get(spec[1], spec[2])), int(st >= 400), int(st == 200)
        if kind == "list":
            got = [(v["attribute"], v["value"], v["stamp"]) for v in result.get("value", [])]
            st = result.get("status", 0)
            return st == 200 and got == m.list(spec[1]), int(st >= 400), len(got)
        if kind == "ingest":
            statuses = [s["status"] for r in result for s in r["status"]]
            for k, a, v, s, d in spec[1][:3]:
                m.write(k, a, s, v, delete=d and a != gen.WILDCARD,
                        delete_wildcard=d and a == gen.WILDCARD)
            return statuses == [200, 200, 200, 412], sum(s >= 400 for s in statuses), None
        read, other, st, committed = result
        _, conflict, key, attr, value, stamp, stamp2 = spec
        ok = _same_get(read, m.get(key, attr)) and st["status"] == 200  # state the read saw
        if conflict:
            ok = ok and other == TXN_COMMITTED and committed == TXN_REJECTED
            m.write(key, attr, stamp2, value + b"-other")
        else:
            ok = ok and committed == TXN_COMMITTED
            m.write(key, attr, stamp, value)
        rejects = int(read.get("status", 0) >= 400) + [other, committed].count(TXN_REJECTED)
        return ok, rejects, int(read.get("status") == 200)

    # -- end of run -------------------------------------------------------------

    def layer_counts(self) -> dict:
        return gen.log_files(self.log, self.user_bytes)

