"""Partitioned cuckoo filter — the delete-capable seen-set sketch.

Why it exists (north_star + SURVEY §2.7): the Bloom seen-filter
(operators/seen.py) cannot delete, but the reference's seen-set has TTL
semantics — ``CrawlDecider.java:14,23-36`` expires entries after 24 h so
URLs become re-crawlable. When expired keys must be *physically* removed
from the sketch (not just filtered at join time), the per-bucket filter
is a cuckoo filter: 16-bit fingerprints, 4-way buckets, two candidate
positions per key, delete = remove one matching fingerprint.

Same partitioning contract as the Bloom path: keys are
``xxhash64(canonical_url)`` bucketed by ``pmod(url_hash, n_buckets)``;
each bucket's filter is built inside ``applyInPandas`` (never on the
driver) and probed cogrouped by bucket (seen.SeenGate's filter-table
regime). False positives are possible (→ confirm with the exact table,
as with Bloom); false negatives are impossible for inserted-and-not-
deleted keys — property-tested.

Insertion is the classic eviction walk (sequential per bucket — build
is an offline pass); lookups are fully vectorized numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SLOTS_PER_BUCKET = 4
MAX_KICKS = 500
LOAD_FACTOR = 0.84  # table sized so occupancy stays below ~0.95


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — without it, keys that agree on the
    fingerprint-and-index bit ranges (easy to construct, e.g. multiples
    of 2^36) all land in the same two buckets with the same fingerprint
    and overflow at 2×SLOTS_PER_BUCKET copies."""
    with np.errstate(over="ignore"):
        z = h + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _fingerprint(h: np.ndarray) -> np.ndarray:
    """Non-zero 16-bit fingerprint from the mixed key."""
    f = ((_mix64(h) >> np.uint64(20)) & np.uint64(0xFFFF)).astype(np.uint16)
    f[f == 0] = 1
    return f


def _alt_index(idx: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    """i2 = i1 xor hash(fp) mod m (m is a power of two)."""
    fph = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(0xFFFFFFFF)
    return (idx ^ fph.astype(np.int64)) % m


class CuckooTable:
    """One bucket's filter: m × SLOTS_PER_BUCKET uint16 slots."""

    def __init__(self, m: int, slots: np.ndarray | None = None):
        self.m = m
        self.slots = (
            slots
            if slots is not None
            else np.zeros((m, SLOTS_PER_BUCKET), dtype=np.uint16)
        )

    @classmethod
    def build(cls, hashes: np.ndarray) -> "CuckooTable":
        n = max(len(hashes), 1)
        m = 1
        while m * SLOTS_PER_BUCKET * LOAD_FACTOR < n:
            m <<= 1
        m = max(m, 2)
        # grow-and-rehash on eviction-walk overflow: at tiny m (or an
        # adversarial fingerprint pile-up) both candidate buckets of a
        # key can coincide and fill. Build still holds the original
        # keys, so doubling m and rehashing is always possible here —
        # unlike incremental insert, which only has fingerprints
        # (see insert_keys: the caller rebuilds from the exact table).
        while True:
            t = cls(m)
            rng = np.random.RandomState(12345)  # deterministic walk
            if all(t._insert_one(int(h), rng) for h in hashes.astype(np.uint64)):
                return t
            m <<= 1

    def _insert_one(self, h: int, rng) -> bool:
        fp = int(_fingerprint(np.array([h], dtype=np.uint64))[0])
        # pure-int mod: mixing a Python int with np.uint64 promotes to
        # float64 and silently drops bits above 2^53. Index comes from
        # the mixed key (disjoint bit range from the fingerprint).
        i1 = int(_mix64(np.array([h], dtype=np.uint64))[0]) % self.m
        i2 = int(_alt_index(np.array([i1]), np.array([fp], dtype=np.uint16), self.m)[0])
        for i in (i1, i2):
            empty = np.where(self.slots[i] == 0)[0]
            if len(empty):
                self.slots[i, empty[0]] = fp
                return True
        # eviction walk
        i = i1 if rng.rand() < 0.5 else i2
        for _ in range(MAX_KICKS):
            s = rng.randint(SLOTS_PER_BUCKET)
            fp, self.slots[i, s] = int(self.slots[i, s]), fp
            i = int(
                _alt_index(np.array([i]), np.array([fp], dtype=np.uint16), self.m)[0]
            )
            empty = np.where(self.slots[i] == 0)[0]
            if len(empty):
                self.slots[i, empty[0]] = fp
                return True
        return False  # over capacity: build grows; insert_keys saturates

    # -- vectorized ops ---------------------------------------------------
    def contains(self, hashes: np.ndarray) -> np.ndarray:
        h = hashes.astype(np.uint64)
        fp = _fingerprint(h)
        i1 = (_mix64(h) % np.uint64(self.m)).astype(np.int64)
        i2 = _alt_index(i1, fp, self.m)
        hit1 = (self.slots[i1] == fp[:, None]).any(axis=1)
        hit2 = (self.slots[i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    def delete(self, hashes: np.ndarray) -> int:
        """Remove one matching fingerprint per key (cuckoo delete
        contract: only delete keys that were inserted). Returns the
        number actually removed."""
        removed = 0
        for h in hashes.astype(np.uint64):
            fp = int(_fingerprint(np.array([h], dtype=np.uint64))[0])
            i1 = int(_mix64(np.array([h], dtype=np.uint64))[0]) % self.m
            i2 = int(
                _alt_index(np.array([i1]), np.array([fp], dtype=np.uint16), self.m)[0]
            )
            for i in (i1, i2):
                idx = np.where(self.slots[i] == fp)[0]
                if len(idx):
                    self.slots[i, idx[0]] = 0
                    removed += 1
                    break
        return removed

    # -- (de)serialization -------------------------------------------------
    def to_bytes(self) -> bytes:
        return self.slots.tobytes()

    @classmethod
    def from_bytes(cls, m: int, data: bytes) -> "CuckooTable":
        slots = np.frombuffer(data, dtype=np.uint16).reshape(m, SLOTS_PER_BUCKET).copy()
        return cls(m, slots)


CUCKOO_SCHEMA = "bucket int, m long, n_keys long, slots binary"


def build_cuckoo(seen: DataFrame) -> DataFrame:
    """Per-bucket cuckoo filters from a (bucket, url_hash) table —
    executor-side, one filter per bucket group."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        t = CuckooTable.build(pdf["url_hash"].to_numpy())
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "m": [t.m],
                "n_keys": [len(pdf)],
                "slots": [t.to_bytes()],
            }
        )

    return (
        seen.select("bucket", "url_hash")
        .groupBy("bucket")
        .applyInPandas(build, CUCKOO_SCHEMA)
    )


def delete_keys(cuckoo: DataFrame, expired: DataFrame) -> DataFrame:
    """New filter table with ``expired`` (bucket, url_hash) rows removed
    — the physical TTL eviction the Bloom path cannot do. Cogroup by
    bucket; untouched buckets pass through."""

    def drop(filt: pd.DataFrame, exp: pd.DataFrame) -> pd.DataFrame:
        if len(filt) == 0:
            return pd.DataFrame(columns=["bucket", "m", "n_keys", "slots"])
        m = int(filt["m"].iloc[0])
        t = CuckooTable.from_bytes(m, filt["slots"].iloc[0])
        n_removed = 0
        if len(exp) and m:  # a saturated bucket (m=0) holds no fingerprints
            n_removed = t.delete(exp["url_hash"].to_numpy())
        return pd.DataFrame(
            {
                "bucket": [int(filt["bucket"].iloc[0])],
                "m": [m],
                "n_keys": [int(filt["n_keys"].iloc[0]) - n_removed],
                "slots": [t.to_bytes()],
            }
        )

    return (
        cuckoo.groupBy("bucket")
        .cogroup(expired.select("bucket", "url_hash").groupBy("bucket"))
        .applyInPandas(drop, CUCKOO_SCHEMA)
    )


def insert_keys(cuckoo: DataFrame, new_keys: DataFrame) -> DataFrame:
    """New filter table with ``new_keys`` (bucket, url_hash) inserted —
    incremental maintenance (the cuckoo twin of seen.merge_bloom), so
    the growing seen table is never rescanned per iteration. Buckets
    with no prior filter get a fresh one. A cuckoo filter cannot grow
    in place (re-indexing needs the original keys, not fingerprints):
    a bucket whose eviction walk overflows is SATURATED (``m=0``, no
    slots) — every probe of it hits and is confirmed exactly, so it
    stops pruning but never drops a seen key — until the caller
    rebuilds from the exact seen table (seen.SeenGate rebuilds when the
    seen set doubles)."""

    def ins(filt: pd.DataFrame, keys: pd.DataFrame) -> pd.DataFrame:
        if len(filt) == 0:
            if len(keys) == 0:
                return pd.DataFrame(columns=["bucket", "m", "n_keys", "slots"])
            t = CuckooTable.build(keys["url_hash"].to_numpy())
            return pd.DataFrame(
                {
                    "bucket": [int(keys["bucket"].iloc[0])],
                    "m": [t.m],
                    "n_keys": [len(keys)],
                    "slots": [t.to_bytes()],
                }
            )
        m = int(filt["m"].iloc[0])
        t = CuckooTable.from_bytes(m, filt["slots"].iloc[0])
        rng = np.random.RandomState(12345)
        hashes = keys["url_hash"].to_numpy().astype(np.uint64)
        if m and not all(t._insert_one(int(h), rng) for h in hashes):
            # the failed walk dropped a fingerprint: saturate the bucket
            m, t = 0, CuckooTable(0)
        return pd.DataFrame(
            {
                "bucket": [int(filt["bucket"].iloc[0])],
                "m": [m],
                "n_keys": [int(filt["n_keys"].iloc[0]) + len(keys)],
                "slots": [t.to_bytes()],
            }
        )

    return (
        cuckoo.groupBy("bucket")
        .cogroup(new_keys.select("bucket", "url_hash").groupBy("bucket"))
        .applyInPandas(ins, CUCKOO_SCHEMA)
    )


def filter_unseen_cuckoo(
    candidates: DataFrame, seen: DataFrame, cuckoo: DataFrame
) -> DataFrame:
    """Candidates not present in the cuckoo filter, with filter hits
    confirmed against the exact seen table (same prune+confirm contract
    as seen.filter_unseen)."""

    def check(cand: pd.DataFrame, filt: pd.DataFrame) -> pd.DataFrame:
        if len(cand) == 0:
            return cand.assign(might_contain=pd.Series([], dtype=bool))
        if len(filt) == 0:
            return cand.assign(might_contain=False)
        m = int(filt["m"].iloc[0])
        if m == 0:  # saturated by an overflowing insert: confirm them all
            return cand.assign(might_contain=True)
        t = CuckooTable.from_bytes(m, filt["slots"].iloc[0])
        return cand.assign(might_contain=t.contains(cand["url_hash"].to_numpy()))

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    )
    checked = (
        candidates.groupBy("bucket")
        .cogroup(cuckoo.groupBy("bucket"))
        .applyInPandas(check, schema + ", might_contain boolean")
    )
    definite_new = checked.filter(~F.col("might_contain")).drop("might_contain")
    maybe = checked.filter(F.col("might_contain")).drop("might_contain")
    confirmed_new = maybe.join(seen.select("url_hash"), "url_hash", "left_anti")
    return definite_new.unionByName(confirmed_new)
