"""replicate: commit-log drops replicated into a parquet replica and a CachedView.

Closed loop, one client. For each seeded drop of DROP elements, in a fixed
sequence: publish the drop file into the commit-log directory by atomic
rename, run an ``availableNow`` ReplicationController with two queries
(``replicate`` into a parquet replica through a storage filter and
``rename_transform``; ``replicate_with`` into ``CachedView.update``), then
read sampled cells of that drop through ``CachedView.get``.

``lag`` is publish → the first ``CachedView.get`` that returns the drop's
value; ``cached_get`` is each further read.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from model import Model

DROP = 25_000
DROPS_PER_SECOND = 0.4  # drops = max(3, round(seconds * DROPS_PER_SECOND))
GETS_PER_DROP = 4  # the lag read plus three cached reads
COMPACT_EVERY = 3
REPLICATED = gen.SCALARS  # storage filter: scalar attributes only
RENAME = {"status": "state"}


def prepare(seed: int, cache: str, drops: int) -> str:
    d = os.path.join(cache, f"replicate-s{seed}-d{DROP}x{drops}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for i in range(drops):
            pq.write_table(gen.changelog(seed, DROP, start=i * DROP),
                           os.path.join(tmp, f"drop-{i:05d}.parquet"))
        os.rename(tmp, d)
    return d


def _ms(stamp) -> int:
    from datetime import timezone

    if stamp.tzinfo is None:
        stamp = stamp.replace(tzinfo=timezone.utc)
    return round(stamp.timestamp() * 1000)


class Replicate:
    name = "replicate"
    reps = 2

    def __init__(self, seed: int, seconds: int, cache: str, work: str) -> None:
        self.drops = max(3, round(seconds * DROPS_PER_SECOND))
        # drop 0 is the warm-up of every set-up; drops 1.. are timed
        self.inputs = prepare(seed, cache, self.drops + 1)
        self.work = work
        self.seed = seed
        self.failures: list[str] = []

    def drop(self, i: int) -> pa.Table:
        return pq.read_table(os.path.join(self.inputs, f"drop-{i:05d}.parquet"))

    def setup(self, spark, rec, rep: int) -> None:
        """Fresh commit log, checkpoints, replica and view; one warm-up cycle."""
        from proxima_platform_spark.catalog.descriptors import (
            AccessType, AttributeFamilyDescriptor, StorageType,
        )
        from proxima_platform_spark.streaming.cached_view import CachedView

        root = os.path.join(self.work, f"replicate-{rep}")
        shutil.rmtree(root, ignore_errors=True)
        self.log = os.path.join(root, "commit-log")
        self.ckpt = os.path.join(root, "checkpoints")
        os.makedirs(self.log)
        self.source = AttributeFamilyDescriptor(
            name="user-log", entity=gen.ENTITY, attributes=("*",),
            storage_uri=f"parquet://{self.log}",
            access=frozenset({AccessType.COMMIT_LOG, AccessType.BATCH_UPDATES}),
        )
        self.replica = AttributeFamilyDescriptor(
            name="user-replica", entity=gen.ENTITY, attributes=("*",),
            storage_uri=f"parquet://{os.path.join(root, 'replica')}",
            storage_type=StorageType.REPLICA,
            access=frozenset({AccessType.BATCH_UPDATES}),
        )
        self.view_dir = os.path.join(root, "view")
        self.view = CachedView(spark, self.view_dir, compact_every=COMPACT_EVERY)
        self.spark = spark
        self.model = Model()
        self.replicated = 0
        self.cycle(rec, 0, timed=False)

    def verify(self) -> None:
        self.check_replica()

    def run(self, rec) -> None:
        for i in range(1, self.drops + 1):
            self.cycle(rec, i, timed=True)
        self.check_replica()

    # -- one drop ----------------------------------------------------------------

    def _trigger(self) -> None:
        from pyspark.sql import functions as F

        from proxima_platform_spark.streaming.replication import (
            ReplicationController, ReplicationTarget, rename_transform,
        )
        from proxima_platform_spark.streaming.source import commit_log_stream

        ctl = ReplicationController(commit_log_stream(self.spark, self.source),
                                    checkpoint_root=self.ckpt)
        ctl.replicate(ReplicationTarget(
            family=self.replica,
            storage_filter=F.col("attribute_base").isin(list(REPLICATED)),
            transformations=(rename_transform(RENAME),),
        ))
        ctl.replicate_with("view", self.view.update)
        ctl.await_all()

    def samples(self, table: pa.Table, i: int) -> list[tuple[str, str]]:
        """Cells of drop ``i``: first one whose live value the drop wrote,
        then GETS_PER_DROP - 1 more cells the drop touched."""
        keys = table.column("key").to_pylist()
        attrs = table.column("attribute").to_pylist()
        seqs = table.column("seq_id").to_numpy()
        rng = np.random.default_rng([self.seed, i, 3])
        cells = [(k, a) for k, a in zip(keys, attrs) if a != gen.WILDCARD]
        first = None
        lo = int(seqs.min())
        for j in rng.permutation(len(keys)).tolist():
            k, a = keys[j], attrs[j]
            c = self.model.cells.get((k, a))
            if a != gen.WILDCARD and c is not None and c[1] >= lo and self.model.get(k, a):
                first = (k, a)
                break
        rest = [cells[j] for j in rng.integers(0, len(cells), GETS_PER_DROP - 1).tolist()]
        return [first] + rest

    def cycle(self, rec, i: int, *, timed: bool) -> None:
        table = self.drop(i)
        self.model.extend(table)
        self.replicated += int(pc.sum(pc.is_in(table.column("attribute_base"),
                                               pa.array(REPLICATED))).as_py())
        cells = self.samples(table, i)
        staged = os.path.join(self.log, f".drop-{i:05d}.parquet")
        shutil.copyfile(os.path.join(self.inputs, f"drop-{i:05d}.parquet"), staged)
        try:
            with rec.op("lag", timed=timed, elements=DROP) as o:
                os.rename(staged, os.path.join(self.log, f"drop-{i:05d}.parquet"))
                self._trigger()
                row = self.view.get(*cells[0])
            o.ok, o.rows = self._same(row, cells[0]), int(row is not None)
        except Exception as ex:
            rec.ops[-1].ok = False
            self.failures.append(f"lag {i}: {ex!r}"[:300])
        for cell in cells[1:]:
            try:
                with rec.op("cached_get", timed=timed) as o:
                    row = self.view.get(*cell)
                o.ok, o.rows = self._same(row, cell), int(row is not None)
            except Exception as ex:
                rec.ops[-1].ok = False
                self.failures.append(f"get {cell}: {ex!r}"[:300])
        if not all(o.ok for o in rec.ops[-GETS_PER_DROP:]) and len(self.failures) < 20:
            self.failures.append(f"mismatch in drop {i}")

    def _same(self, row, cell) -> bool:
        want = self.model.get(*cell)
        if want is None:
            return row is None
        return row is not None and (bytes(row.value or b""), _ms(row.stamp)) == want

    def check_replica(self) -> None:
        """Replica holds every replicated element, with the rename applied."""
        df = self.spark.read.parquet(self.replica.path)
        got = dict(df.groupBy("attribute").count().collect())
        if sum(got.values()) != self.replicated or set(RENAME) & set(got) or \
                not set(RENAME.values()) <= set(got):
            self.failures.append(f"replica {got} != {self.replicated} elements")

    def layer_counts(self) -> dict:
        m = self.view._manifest()
        size = 0
        for base, _, files in os.walk(self.view_dir):
            size += sum(os.path.getsize(os.path.join(base, f)) for f in files
                        if f.endswith(".parquet"))
        live = sum(1 for k, a in self.model.cells if self.model.get(k, a) is not None)
        return {"streaming.view_live_deltas": len(m["deltas"]),
                "streaming.view_bytes_per_live_element": size / max(live, 1)}
