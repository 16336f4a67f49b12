"""Seeded changelog generator (numpy + pyarrow, no Spark).

Every element follows the canonical ``CHANGELOG_SCHEMA`` of
``proxima_platform_spark.changelog``. The shape is fixed:

* entity ``user``; keys ``u00000``..``u49999`` drawn from a Zipf(1.1)
  popularity law (the hottest keys are spread over the key space);
* six scalar attributes, ``score`` has the ``integer`` scheme so an
  ingest of a non-numeric value is refused with 412;
* wildcard attribute ``device.*`` with eight instances ``device.d0``..``d7``;
* 5% deletes and 1% wildcard tombstones (``device.*``);
* stamps advance 10 ms per element and are pulled back by up to 5 s, so
  the log is out of order; input stamps are even milliseconds, which
  leaves the odd milliseconds free for writes the benchmark makes;
* ``seq_id`` is the element's position in the log (1-based), which breaks
  equal-stamp ties exactly as ``changelog.compact`` does.

The same (seed, start, n) always gives the same elements.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENTITY = "user"
SCALARS = ("name", "email", "status", "country", "tier", "score")
INTEGER_ATTR = "score"
WILDCARD = "device.*"
DEVICES = tuple(f"device.d{i}" for i in range(8))
N_KEYS = 50_000
ZIPF_S = 1.1
T0_MS = 1_700_000_000_000
STEP_MS = 10
MAX_DISORDER_MS = 5_000

REPO_CONFIG = {
    "entities": {
        ENTITY: {
            "attributes": {
                **{a: {"scheme": "string"} for a in SCALARS if a != INTEGER_ATTR},
                INTEGER_ATTR: {"scheme": "integer"},
                WILDCARD: {"scheme": "bytes"},
            }
        }
    },
}

SCHEMA = pa.schema(
    [
        pa.field("entity", pa.string(), False),
        pa.field("key", pa.string(), False),
        pa.field("attribute", pa.string(), False),
        pa.field("attribute_base", pa.string(), False),
        pa.field("seq_id", pa.int64()),
        pa.field("uuid", pa.string()),
        pa.field("stamp", pa.timestamp("us", tz="UTC"), False),
        pa.field("delete", pa.bool_(), False),
        pa.field("delete_wildcard", pa.bool_(), False),
        pa.field("value", pa.binary()),
    ]
)


def repo_config(commit_log_path: str) -> dict:
    """Catalog with one parquet primary family (commit-log + batch-updates)."""
    return {
        **REPO_CONFIG,
        "attributeFamilies": {
            "user-log": {
                "entity": ENTITY,
                "attributes": ["*"],
                "storage": f"parquet://{commit_log_path}",
                "type": "primary",
                "access": ["commit-log", "batch-updates"],
            }
        },
    }


def key_name(i: int) -> str:
    return f"u{i:05d}"


class KeySampler:
    """Zipf(s) key popularity over N_KEYS keys, hot keys scattered."""

    def __init__(self, seed: int) -> None:
        ranks = np.arange(1, N_KEYS + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self._cdf = np.cumsum(p / p.sum())
        self._ids = np.random.default_rng([seed, 7]).permutation(N_KEYS)

    def ids(self, rng: np.random.Generator, n: int) -> np.ndarray:
        ranks = np.searchsorted(self._cdf, rng.random(n), side="right")
        return self._ids[np.minimum(ranks, N_KEYS - 1)]


def changelog(seed: int, n: int, *, start: int = 0) -> pa.Table:
    """Elements ``start .. start+n-1`` of the seed's log."""
    rng = np.random.default_rng([seed, start, n])
    pos = np.arange(start, start + n, dtype=np.int64)
    key_ids = KeySampler(seed).ids(rng, n)
    kind = rng.random(n)
    tomb = kind < 0.01
    delete = kind < 0.06
    slot = rng.integers(0, len(SCALARS) + 4, n)
    device = rng.integers(0, len(DEVICES), n)
    score = rng.integers(0, 1000, n)
    jitter = rng.integers(0, MAX_DISORDER_MS // 2 + 1, n) * 2
    stamp_ms = T0_MS + pos * STEP_MS - jitter

    keys = [key_name(k) for k in key_ids.tolist()]
    attrs, bases, values = [], [], []
    for i, (t, s, d, sc, p) in enumerate(
        zip(tomb.tolist(), slot.tolist(), device.tolist(), score.tolist(), pos.tolist())
    ):
        if t:
            attrs.append(WILDCARD)
            bases.append(WILDCARD)
            values.append(None)
            continue
        if s < len(SCALARS):
            a = SCALARS[s]
            base = a
            v = str(sc).encode() if a == INTEGER_ATTR else f"{a}-{p}".encode()
        else:
            a = DEVICES[d]
            base = WILDCARD
            v = f"dev-{p}".encode()
        attrs.append(a)
        bases.append(base)
        values.append(None if delete[i] else v)
    return pa.table(
        {
            "entity": pa.array([ENTITY] * n, pa.string()),
            "key": pa.array(keys, pa.string()),
            "attribute": pa.array(attrs, pa.string()),
            "attribute_base": pa.array(bases, pa.string()),
            "seq_id": pa.array(pos + 1, pa.int64()),
            "uuid": pa.nulls(n, pa.string()),
            "stamp": pa.array(stamp_ms * 1000, pa.timestamp("us", tz="UTC")),
            "delete": pa.array(delete, pa.bool_()),
            "delete_wildcard": pa.array(tomb, pa.bool_()),
            "value": pa.array(values, pa.binary()),
        },
        schema=SCHEMA,
    )


def write_parts(table: pa.Table, directory: str, parts: int) -> None:
    """Write ``table`` as ``parts`` equally sized parquet files."""
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(directory, f"part-{i:05d}.parquet")
        )


def user_bytes(directory: str) -> int:
    """Bytes of key, attribute and value over every element in ``directory``."""
    import pyarrow.compute as pc

    t = pq.read_table(directory, columns=["key", "attribute", "value"])
    return sum(int(pc.sum(pc.binary_length(t.column(c))).as_py() or 0) for c in t.column_names)


def log_files(directory: str, user: int) -> dict:
    """Commit-log file count and on-disk bytes per user byte."""
    files = [f for f in os.listdir(directory) if f.endswith(".parquet")]
    size = sum(os.path.getsize(os.path.join(directory, f)) for f in files)
    return {"sources.commit_log_files": len(files), "sources.bytes_per_user_byte": size / user}
