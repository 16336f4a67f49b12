"""batch: snapshot and stream-DSL jobs over one changelog, no server.

Closed loop, one client: a fixed sequence of job kinds, repeated ``rounds``
times, each job written to Spark's ``noop`` sink. Every job kind's output is
checked once, on its untimed warm-up run, against a DuckDB reference (row
count and an order-insensitive hash) stored beside the inputs.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa

import gen

SIZE = 250_000
PARTS = 6
ROUNDS_PER_SECOND = 0.15  # rounds = max(2, round(seconds * ROUNDS_PER_SECOND))
WINDOW_MS = 60_000
SESSION_GAP_MS = 30_000
ATTRS = list(gen.SCALARS) + [gen.WILDCARD]
KINDS = ("snapshot", "time_travel", "wide", "diff", "tumbling", "session", "integrate")


def _at(q: float) -> int:
    """Stamp (µs) a share ``q`` into the log's time range."""
    return (gen.T0_MS + int(q * SIZE * gen.STEP_MS)) * 1000


MID_US, Q1_US, Q3_US = _at(0.5), _at(0.25), _at(0.75)


# -- DuckDB references ---------------------------------------------------------

def _snapshot_sql(at_us: int | None) -> str:
    where = f"WHERE epoch_us(stamp) <= {at_us}" if at_us is not None else ""
    return f"""
    WITH f AS (SELECT * FROM log {where}),
    r AS (SELECT *, row_number() OVER (PARTITION BY key, attribute
            ORDER BY stamp DESC, coalesce(seq_id, 0) DESC) AS rn FROM f),
    tomb AS (SELECT key, attribute_base, max(stamp) AS ts FROM f
             WHERE delete_wildcard GROUP BY key, attribute_base)
    SELECT r.key, r.attribute, r.value, r.stamp FROM r
    LEFT JOIN tomb ON r.key = tomb.key AND r.attribute_base = tomb.attribute_base
    WHERE rn = 1 AND NOT r."delete" AND NOT r.delete_wildcard
      AND (tomb.ts IS NULL OR r.stamp >= tomb.ts)"""


def _score_sql() -> str:
    return """SELECT key, stamp, seq_id, CAST(CAST(value AS VARCHAR) AS DOUBLE) AS v
              FROM log WHERE attribute_base = 'score' AND NOT "delete" """


REFERENCE_SQL = {
    "snapshot": _snapshot_sql(None),
    "time_travel": _snapshot_sql(MID_US),
    "wide": f"""SELECT key, {", ".join(
        f"max(CASE WHEN attribute = '{a}' THEN value END) AS {a}" for a in gen.SCALARS
    )} FROM ({_snapshot_sql(None)}) GROUP BY key""",
    "diff": f"""
    WITH a AS ({_snapshot_sql(Q1_US)}), b AS ({_snapshot_sql(Q3_US)})
    SELECT coalesce(a.key, b.key) AS key, coalesce(a.attribute, b.attribute) AS attribute,
      CASE WHEN a.value IS NULL THEN 'added' WHEN b.value IS NULL THEN 'deleted'
           ELSE 'updated' END AS status, a.value AS value_from, b.value AS value_to
    FROM a FULL OUTER JOIN b ON a.key = b.key AND a.attribute = b.attribute
    WHERE a.value IS NULL OR b.value IS NULL OR a.value <> b.value""",
    "tumbling": f"""
    WITH s AS ({_score_sql()}), w AS (SELECT key, v,
      epoch_us(stamp) - epoch_us(stamp) % {WINDOW_MS * 1000} AS start FROM s)
    SELECT start, start + {WINDOW_MS * 1000} AS "end", key, sum(v) AS sum
    FROM w GROUP BY start, key""",
    "session": f"""
    WITH e AS (SELECT key, epoch_us(stamp) AS t FROM log),
    g AS (SELECT key, t, CASE WHEN t - lag(t) OVER (PARTITION BY key ORDER BY t)
                 <= {SESSION_GAP_MS * 1000} THEN 0 ELSE 1 END AS brk FROM e),
    s AS (SELECT key, t, sum(brk) OVER (PARTITION BY key ORDER BY t
                 ROWS UNBOUNDED PRECEDING) AS sid FROM g)
    SELECT min(t) AS start, max(t) + {SESSION_GAP_MS * 1000} AS "end", key,
           count(*) AS count FROM s GROUP BY key, sid""",
    "integrate": f"""
    SELECT key, seq_id, sum(v) OVER (PARTITION BY key ORDER BY stamp, seq_id
           ROWS UNBOUNDED PRECEDING) AS integrated FROM ({_score_sql()})""",
}


def fingerprint(table: pa.Table) -> tuple[int, str]:
    """(rows, order-insensitive hash) of a result in its canonical columns."""
    df = table.to_pandas()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: v if v is None or isinstance(v, (bytes, str)) else bytes(v))
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return len(df), f"{int(h.sum(dtype=np.uint64)):016x}"


def _canonical(kind: str, table: pa.Table) -> pa.Table:
    """Same column order and types for the Spark and the DuckDB side."""
    def us(col):
        t = table.column(col)
        if pa.types.is_timestamp(t.type):
            t = t.cast(pa.timestamp("us")).cast(pa.int64())
        return t.cast(pa.int64())

    def col(name, typ):
        return table.column(name).cast(typ)

    if kind in ("snapshot", "time_travel"):
        return pa.table({"key": col("key", pa.string()), "attribute": col("attribute", pa.string()),
                         "value": col("value", pa.binary()), "stamp": us("stamp")})
    if kind == "wide":
        return pa.table({"key": col("key", pa.string()),
                         **{a: col(a, pa.binary()) for a in gen.SCALARS}})
    if kind == "diff":
        return pa.table({c: col(c, pa.string()) for c in ("key", "attribute", "status")}
                        | {c: col(c, pa.binary()) for c in ("value_from", "value_to")})
    if kind == "tumbling":
        return pa.table({"start": us("start"), "end": us("end"), "key": col("key", pa.string()),
                         "sum": col("sum", pa.float64())})
    if kind == "session":
        return pa.table({"start": us("start"), "end": us("end"), "key": col("key", pa.string()),
                         "count": col("count", pa.int64())})
    return pa.table({"key": col("key", pa.string()), "seq_id": col("seq_id", pa.int64()),
                     "integrated": col("integrated", pa.float64())})


def prepare(seed: int, cache: str) -> str:
    d = os.path.join(cache, f"batch-s{seed}-n{SIZE}")
    if not os.path.isdir(d):
        import duckdb

        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        log = gen.changelog(seed, SIZE)
        gen.write_parts(log, os.path.join(tmp, "changelog"), PARTS)
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.register("log", log)
        refs = {k: fingerprint(_canonical(k, con.execute(sql).arrow()))
                for k, sql in REFERENCE_SQL.items()}
        with open(os.path.join(tmp, "refs.json"), "w") as f:
            json.dump(refs, f, indent=1)
        os.rename(tmp, d)
    return d


# -- the jobs --------------------------------------------------------------------

def job(op, kind: str):
    """(DataFrame to run, projection to its canonical columns) of one kind."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from proxima_platform_spark.changelog import snapshot_diff, snapshot_wide
    from proxima_platform_spark.operators import Stream

    def ts(us: int):
        return datetime.fromtimestamp(us / 1e6, tz=timezone.utc)

    def score():
        return (
            op.batch_updates(gen.ENTITY, [gen.INTEGER_ATTR])
            .where(~F.col("delete"))
            .select("key", "stamp", "seq_id",
                    F.col("value").cast("string").cast("double").alias("v"))
        )

    snap_cols = ("key", "attribute", "value", "stamp")
    window_cols = (F.col("window.start").alias("start"), F.col("window.end").alias("end"))
    if kind == "snapshot":
        return op.batch_snapshot(gen.ENTITY, ATTRS), snap_cols
    if kind == "time_travel":
        return op.batch_snapshot(gen.ENTITY, ATTRS, end=ts(MID_US)), snap_cols
    if kind == "wide":
        return (snapshot_wide(op.batch_snapshot(gen.ENTITY, ATTRS), attributes=list(gen.SCALARS)),
                ("key",) + gen.SCALARS)
    if kind == "diff":
        return (snapshot_diff(op.batch_updates(gen.ENTITY, ATTRS),
                              at_from=F.lit(ts(Q1_US)), at_to=F.lit(ts(Q3_US))),
                ("key", "attribute", "status", "value_from", "value_to"))
    if kind == "tumbling":
        return (Stream(score(), "stamp").time_window(WINDOW_MS).sum_by_key("key", "v"),
                window_cols + ("key", "sum"))
    if kind == "session":
        return (Stream(op.batch_updates(gen.ENTITY, ATTRS).select("key", "stamp"), "stamp")
                .session_window("key", SESSION_GAP_MS).count(),
                window_cols + (F.col("__key").alias("key"), "count"))
    ordered = score().select(F.col("key").alias("k"), "seq_id", "v",
                             F.struct("stamp", "seq_id").alias("order"))
    return (Stream(ordered, "order").integrate_per_key("k", "v").df,
            ("key", "seq_id", "integrated"))


class Batch:
    name = "batch"
    reps = 1  # a second set-up would spend 8 s of the run budget; see WORKLOADS.md

    def __init__(self, seed: int, seconds: int, cache: str, work: str) -> None:
        self.inputs = prepare(seed, cache)
        with open(os.path.join(self.inputs, "refs.json")) as f:
            self.refs = {k: tuple(v) for k, v in json.load(f).items()}
        self.user_bytes = gen.user_bytes(os.path.join(self.inputs, "changelog"))
        self.rounds = max(2, round(seconds * ROUNDS_PER_SECOND))
        self.failures: list[str] = []
        self.wrong: set[str] = set()  # job kinds whose checked output was wrong

    def setup(self, spark, rec, rep: int) -> None:
        """Catalog and DataOperator, then every job kind once; the warm-up
        collects each job's output, which ``verify`` checks."""
        from proxima_platform_spark.catalog.repository import Repository
        from proxima_platform_spark.sources.registry import DataOperator

        repo = Repository.of(gen.repo_config(os.path.join(self.inputs, "changelog")))
        self.op = DataOperator(repo, spark)
        self.outputs = {}
        for kind in KINDS:
            self.run_job(rec, kind, timed=False)

    def verify(self) -> None:
        """Each job kind's warm-up output against the DuckDB reference."""
        for kind, table in self.outputs.items():
            got = fingerprint(_canonical(kind, table))
            if got != self.refs[kind]:
                self.wrong.add(kind)
                self.failures.append(f"{kind}: spark {got} != duckdb {self.refs[kind]}")

    def run_job(self, rec, kind: str, *, timed: bool) -> None:
        """Timed runs write the job to the noop sink; warm-ups collect it."""
        try:
            with rec.op(kind, timed=timed, elements=SIZE) as o:
                df, cols = job(self.op, kind)
                if timed:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    self.outputs[kind] = df.select(*cols).toArrow()
            o.ok = True
            o.rows = self.refs[kind][0]
        except Exception as ex:
            rec.ops[-1].ok = False
            self.failures.append(f"{kind}: {ex!r}"[:300])

    def run(self, rec) -> None:
        for _ in range(self.rounds):
            for kind in KINDS:
                self.run_job(rec, kind, timed=True)
        # a job kind whose checked output was wrong fails its timed runs too
        for o in rec.timed():
            if o.kind in self.wrong:
                o.ok = False

    def layer_counts(self) -> dict:
        return gen.log_files(os.path.join(self.inputs, "changelog"), self.user_bytes)
