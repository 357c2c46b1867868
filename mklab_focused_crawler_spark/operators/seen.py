"""URL-seen set: exact first-seen-wins gate, pruned by a partitioned
Bloom (or cuckoo) filter once the seen set outgrows a broadcast.

Reference semantics: StatusCheckBolt.java:59-68 — Redis
``hget(id,"STATUS")``; emit only if absent, then mark. First-seen-wins,
exact. CrawlDecider.java:14,23-36 adds a 24h TTL variant.

Spark design (north_rule): the seen set is keyed on
``xxhash64(canonical_url)`` and bucketed by ``pmod(url_hash, n_buckets)``.
:class:`SeenGate` owns the whole decision of how a candidate batch is
tested against it — one regime per seen-set size, each exact:

1. **≤ BROADCAST_ANTI_MAX_KEYS seen keys** — the raw keys broadcast into
   one anti-join. No filter exists at all.
2. **Bloom bits fit a broadcast** (``kind="bloom"``, ≲10^9 keys) — the
   per-bucket Bloom lives on the driver, is probed through a broadcast
   in a narrow pandas UDF (candidates never shuffle) and is merged in
   place with numpy from each batch's new keys.
3. **Beyond that** — per-bucket filters (built vectorized in numpy
   inside ``applyInPandas``) are kept in the ``seen_filter`` snapshot
   table and cogrouped with the candidates on ``bucket``; maintenance
   is an incremental cogroup merge (Bloom) or insert + TTL delete
   (cuckoo, operators/cuckoo.py — the delete-capable sketch). Every
   ``kind="cuckoo"`` gate past regime 1 lands here.

In regimes 2-3 filter misses are *definitely new* and skip the exact
join; filter hits (possible false positives) go through a ``left_anti``
join against the exact seen table. A filter never drops a truly-new URL
(no false negatives — property-tested) and the confirm never admits a
seen one, so seen-set parity is exact in every regime; the filter only
prunes join volume. Filters are rebuilt from the exact seen table when
the seen set doubles past their build size (FPR / occupancy creep).

Scale math (10^10 keys): n_buckets=16384 → ~610k keys/bucket; at 12
bits/key each bucket's filter is ~0.9 MB — safely inside an executor
task, never on the driver. Candidates shuffle by the same ``bucket``
key the seen table is bucketed on, so the cogroup is co-partitioned
with the exact table's anti-join. The 24h TTL variant filters
``first_seen_iter`` at join time; the cuckoo filter also evicts
expired keys physically.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.urls import canonicalize_url
from ..storage.snapshot import SnapshotTable
from .cuckoo import build_cuckoo, delete_keys, filter_unseen_cuckoo, insert_keys

N_HASHES = 7
BITS_PER_KEY = 12
# Below this many seen keys the seen prune is a broadcast ANTI-JOIN of
# the raw keys (exact, one JVM hash probe, no confirm join, zero Python
# in the loop): a probabilistic filter compresses the seen set, and
# below broadcast size the uncompressed 8-byte keys already fit. The
# pandas-UDF bloom probe pays a Python-worker fan-out per iteration —
# pure fixed cost at this scale (measured: it dominated small-workload
# iterations), amortized only when candidate batches are huge.
# 200k, not "whatever fits in a broadcast": re-broadcasting the raw key
# set is itself a per-iteration serial cost that grows with the seen set
# (collect + build on the driver, core-count independent) — measured at
# the 2M-page scaling workload (~1M seen keys) it cut local[8] crawl
# throughput from 15.9k to 10.9k urls/s. The driver-bloom regime's
# fixed cost is O(filter bits), ~12x smaller, so it takes over early.
BROADCAST_ANTI_MAX_KEYS = 200_000
# Below this bloom size the per-bucket filters live on the driver and
# are broadcast so the seen-prune never shuffles candidates; above it
# (≈10^9+ seen keys) the cogroup-by-bucket path takes over.
BROADCAST_BLOOM_MAX_BYTES = 256 << 20


def with_seen_key(df: DataFrame, url_col: str, n_buckets: int) -> DataFrame:
    return df.withColumn("canonical_url", canonicalize_url(url_col)).withColumn(
        "url_hash", F.xxhash64(F.col("canonical_url"))
    ).withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates probe positions from key
    structure (raw keys may be sequential ints, not just xxhash64)."""
    with np.errstate(over="ignore"):
        z = h + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _positions(h: np.ndarray, nbits: int) -> np.ndarray:
    """k double-hash probe positions per key: (h1 + i*h2) mod nbits over
    the mixed key. h2 forced odd so probes cycle the full ring.
    Returns shape (len(h), N_HASHES).
    """
    m = _mix64(h)
    h1 = m & np.uint64(0xFFFFFFFF)
    h2 = (m >> np.uint64(32)) | np.uint64(1)
    i = np.arange(N_HASHES, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(nbits)).astype(
        np.int64
    )


def _build_one(hashes: np.ndarray) -> tuple[int, bytes]:
    n = max(len(hashes), 1)
    nbits = 1 << max(6, math.ceil(math.log2(n * BITS_PER_KEY)))
    pos = _positions(hashes.astype(np.uint64), nbits)
    arr = np.zeros(nbits >> 3, dtype=np.uint8)
    np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return nbits, arr.tobytes()


def build_bloom(seen: DataFrame) -> DataFrame:
    """Per-bucket Bloom filters: (bucket, nbits, n_keys, bits)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        nbits, bits = _build_one(pdf["url_hash"].to_numpy())
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "nbits": [nbits],
                "n_keys": [len(pdf)],
                "bits": [bits],
            }
        )

    return seen.select("bucket", "url_hash").groupBy("bucket").applyInPandas(
        build, "bucket int, nbits long, n_keys long, bits binary"
    )


def merge_bloom(bloom: DataFrame, new_keys: DataFrame) -> DataFrame:
    """OR the new keys' bits into the existing per-bucket filters —
    incremental maintenance so the seen table is never rescanned per
    iteration (at 10^10 keys a from-scratch rebuild is a full-table
    scan). Buckets with no prior filter get a fresh one; ``n_keys``
    tracks occupancy so the caller can trigger a per-bucket rebuild
    when the insert-count outgrows the sizing (FPR creep guard).
    Cogroup on bucket — co-partitioned with the bloom table."""

    def merge(blm: pd.DataFrame, keys: pd.DataFrame) -> pd.DataFrame:
        if len(keys) == 0:
            return blm[["bucket", "nbits", "n_keys", "bits"]]
        kh = keys["url_hash"].to_numpy().astype(np.uint64)
        if len(blm) == 0:
            nbits, bits = _build_one(kh)
            return pd.DataFrame(
                {
                    "bucket": [int(keys["bucket"].iloc[0])],
                    "nbits": [nbits],
                    "n_keys": [len(keys)],
                    "bits": [bits],
                }
            )
        nbits = int(blm["nbits"].iloc[0])
        arr = np.frombuffer(blm["bits"].iloc[0], dtype=np.uint8).copy()
        pos = _positions(kh, nbits)
        np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame(
            {
                "bucket": [int(blm["bucket"].iloc[0])],
                "nbits": [nbits],
                "n_keys": [int(blm["n_keys"].iloc[0]) + len(keys)],
                "bits": [arr.tobytes()],
            }
        )

    return (
        bloom.groupBy("bucket")
        .cogroup(new_keys.select("bucket", "url_hash").groupBy("bucket"))
        .applyInPandas(merge, "bucket int, nbits long, n_keys long, bits binary")
    )


def collect_bloom(bloom: DataFrame) -> dict:
    """Materialize per-bucket filters driver-side:
    {bucket: (nbits, uint8 array)} — the broadcast-probe regime's
    in-memory form, maintained incrementally by ``merge_bloom_driver``."""
    return {
        int(r["bucket"]): (
            int(r["nbits"]),
            np.frombuffer(r["bits"], np.uint8).copy(),
        )
        for r in bloom.collect()
    }


def merge_bloom_driver(table: dict, keys) -> None:
    """OR a batch of (bucket, url_hash) keys into a driver-held filter
    table in place — the broadcast regime's incremental maintenance.
    One numpy pass per touched bucket (~µs/key); replaces a per-
    iteration Spark cogroup job + filter-table commit. Buckets with no
    filter yet get one sized for the batch (the gate's rebuild-on-
    doubling pass right-sizes it later).

    ``keys`` is a pyarrow Table with (bucket, url_hash) columns — the
    whole batch stays columnar on the driver (a Row list spent more
    per-iteration serial time building Python objects than the merge
    itself)."""
    if keys.num_rows == 0:
        return
    bks = keys["bucket"].to_numpy(zero_copy_only=False).astype(np.int64)
    khs = (
        keys["url_hash"]
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
        .astype(np.uint64)
    )
    order = np.argsort(bks, kind="stable")
    bks, khs = bks[order], khs[order]
    uniq, starts = np.unique(bks, return_index=True)
    bounds = np.append(starts, len(bks))
    for i, bk in enumerate(uniq.tolist()):
        kh = khs[bounds[i] : bounds[i + 1]]
        ent = table.get(bk)
        if ent is None:
            nbits, bits = _build_one(kh)
            table[bk] = (nbits, np.frombuffer(bits, np.uint8).copy())
            continue
        nbits, arr = ent
        pos = _positions(kh, nbits)
        np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: DataFrame | Broadcast | None,
    broadcast_seen: bool = False,
) -> DataFrame:
    """Rows of ``candidates`` whose url_hash is not in ``seen``.

    candidates must carry (url_hash, bucket). With a bloom, definite
    misses skip the anti-join; hits are confirmed exactly.

    The physical strategy follows ``bloom``'s form (:class:`SeenGate`
    picks it from the seen-set size):
    - ``None``: a plain anti-join of the seen keys. With
      ``broadcast_seen=True`` the keys broadcast — exact in one JVM hash
      probe, no confirm join, no shuffle of the candidates and **no
      Python anywhere**; otherwise a shuffle-hash anti-join.
    - a ``Broadcast`` of the driver-held ``{bucket: (nbits, bits)}``
      table: probed in a narrow scalar pandas UDF — the candidates are
      **never shuffled** for the prune. The caller owns the broadcast's
      lifecycle (the gate re-broadcasts its driver-maintained bits each
      iteration and destroys the previous one — without that,
      per-iteration broadcasts pile up in the block managers until the
      JVM ContextCleaner happens to run).
    - a per-bucket filter DataFrame (:func:`build_bloom` shape):
      candidates shuffle by ``bucket`` to meet their bucket's filter —
      the only option when the filters themselves are too big to
      broadcast (the 10^10-key design point).
    """
    if bloom is None:
        if broadcast_seen:
            return candidates.join(
                broadcast(seen.select("url_hash")), "url_hash", "left_anti"
            )
        return candidates.join(_seen_keys(seen), "url_hash", "left_anti")

    if isinstance(bloom, Broadcast):

        @F.pandas_udf("boolean")
        def might(url_hash: pd.Series, bucket: pd.Series) -> pd.Series:
            tbl = bloom.value
            h = url_hash.to_numpy().astype(np.uint64)
            b = bucket.to_numpy()
            out = np.zeros(len(h), dtype=bool)
            for bk in np.unique(b):
                ent = tbl.get(int(bk))
                if ent is None:
                    continue
                nbits, arr = ent
                m = b == bk
                pos = _positions(h[m], nbits)
                out[m] = (
                    (arr[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
                ).all(axis=1)
            return pd.Series(out)

        checked = candidates.withColumn(
            "might_contain", might(F.col("url_hash"), F.col("bucket"))
        )
        return _confirm(checked, seen)

    def check(cand: pd.DataFrame, blm: pd.DataFrame) -> pd.DataFrame:
        if len(cand) == 0:
            return cand.assign(might_contain=pd.Series([], dtype=bool))
        if len(blm) == 0:
            return cand.assign(might_contain=False)
        nbits = int(blm["nbits"].iloc[0])
        arr = np.frombuffer(blm["bits"].iloc[0], dtype=np.uint8)
        pos = _positions(cand["url_hash"].to_numpy().astype(np.uint64), nbits)
        hit = (arr[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
        return cand.assign(might_contain=hit.all(axis=1))

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    )
    checked = (
        candidates.groupBy("bucket")
        .cogroup(bloom.groupBy("bucket"))
        .applyInPandas(check, schema + ", might_contain boolean")
    )
    return _confirm(checked, seen)


def _confirm(checked: DataFrame, seen: DataFrame) -> DataFrame:
    """Filter misses are definitely new; filter hits are confirmed by
    an exact anti-join against the seen keys."""
    definite_new = checked.filter(~F.col("might_contain")).drop("might_contain")
    maybe = checked.filter(F.col("might_contain")).drop("might_contain")
    confirmed_new = maybe.join(_seen_keys(seen), "url_hash", "left_anti")
    return definite_new.unionByName(confirmed_new)


def _seen_keys(seen: DataFrame) -> DataFrame:
    """Build side of the exact-confirm anti-joins. shuffle_hash hint:
    the crawl loop runs with AQE off (see CrawlLoop.run), so an
    unhinted anti-join against the big seen table statically plans as
    sort-merge — re-SORTING the frontier keys every iteration. A
    shuffle-hash build of bare 8-byte keys is one hash table of
    n_seen/partitions entries per task: cheap at any scale, never
    sorts."""
    return seen.select("url_hash").hint("shuffle_hash")


class SeenGate:
    """The crawl loop's URL-seen gate: picks the regime for the current
    seen-set size (module docstring) and owns that regime's filter
    state — the driver-held Bloom and its live broadcast, or the
    ``seen_filter`` snapshot table.

    Per super-step the loop calls :meth:`prune` once (candidates → the
    not-yet-seen ones, exact) and, with the new frontier rows, :meth:`commit`
    once BEFORE appending them to the frontier: a crash between the two
    leaves a filter that over-approximates the seen set (extra exact
    confirms), never one that misses a seen key. Filters are built
    lazily on the first prune that needs one, from the exact seen table,
    and rebuilt when the seen set doubles past the build size; a gate
    created on resume rebuilds on first use, so a stale table is never
    trusted."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        kind: str = "bloom",
        ttl_iterations: int | None = None,
    ):
        if kind not in ("bloom", "cuckoo"):
            raise ValueError(f"seen filter kind must be bloom or cuckoo, not {kind!r}")
        self.spark = spark
        self.kind = kind
        self.ttl = ttl_iterations
        self.table = SnapshotTable(root, "seen_filter")
        self._regime: str | None = None  # regime of the last prune
        self._built_keys: int | None = None  # seen keys at the last build
        self._bloom: dict | None = None  # driver bloom {bucket: (nbits, bits)}
        self._bloom_bc: Broadcast | None = None  # live broadcast of _bloom
        self._filt: DataFrame | None = None  # cuckoo table, probe → commit

    def regime(self, n_seen: int) -> str:
        """``anti`` | ``driver_bloom`` | ``table`` for ``n_seen`` keys."""
        if n_seen <= BROADCAST_ANTI_MAX_KEYS:
            return "anti"
        bloom_bytes = n_seen * 1.2 * BITS_PER_KEY / 8  # ~1.2x sizing slack
        if self.kind == "bloom" and bloom_bytes <= BROADCAST_BLOOM_MAX_BYTES:
            return "driver_bloom"
        return "table"

    def prune(self, cand: DataFrame, seen: DataFrame, n_seen: int) -> DataFrame:
        """``cand`` rows whose url_hash is not in ``seen`` (the exact,
        TTL-cut seen set of this super-step; ``n_seen`` = frontier rows).
        ``cand`` is read by two branches of the filter regimes' union —
        persist it."""
        regime = self.regime(n_seen)
        if regime != self._regime:  # a new regime starts from a fresh build
            self.close()
            self._regime = regime
        stale = self._built_keys is None or n_seen > 2 * self._built_keys
        if regime == "anti":
            return filter_unseen(cand, seen, None, broadcast_seen=True)
        if regime == "driver_bloom":
            if stale:
                self._bloom = collect_bloom(build_bloom(seen))
                self._built_keys = n_seen
            # the bits change every super-step, so each needs a fresh
            # broadcast; last step's jobs have all completed by now
            if self._bloom_bc is not None:
                self._bloom_bc.destroy()
            self._bloom_bc = self.spark.sparkContext.broadcast(self._bloom)
            return filter_unseen(cand, seen, self._bloom_bc)
        if stale:
            build = build_bloom if self.kind == "bloom" else build_cuckoo
            self.table.overwrite(build(seen))
            self._built_keys = n_seen
        if self.kind == "bloom":
            return filter_unseen(cand, seen, self.table.read(self.spark))
        # probed now and updated in commit: read the table once
        self._filt = self.table.read(self.spark).persist()
        return filter_unseen_cuckoo(cand, seen, self._filt)

    def commit(
        self, new_urls: DataFrame, iteration: int, frontier_df: DataFrame
    ) -> None:
        """Fold this super-step's newly scheduled keys (first seen at
        ``iteration + 1``) into the filter of the last prune's regime.
        With TTL, the cuckoo filter also evicts the ``frontier_df`` keys
        that expire at ``iteration + 1``; the Bloom keeps them until its
        next rebuild (hits are confirmed exactly)."""
        if self._regime == "driver_bloom":
            merge_bloom_driver(
                self._bloom, new_urls.select("bucket", "url_hash").toArrow()
            )
        elif self._regime == "table" and self.kind == "bloom":
            self.table.overwrite(merge_bloom(self.table.read(self.spark), new_urls))
        elif self._regime == "table":
            upd = insert_keys(self._filt, new_urls)
            if self.ttl is not None:
                aging_out = frontier_df.filter(
                    F.col("first_seen_iter") == F.lit(iteration + 1 - self.ttl)
                )
                upd = delete_keys(upd, aging_out)
            self.table.overwrite(upd)
            self._filt.unpersist()
            self._filt = None

    def close(self) -> None:
        """Release the driver bloom, its broadcast and any cached filter
        frame; a later prune rebuilds what it needs."""
        self._built_keys = None
        self._bloom = None
        if self._bloom_bc is not None:
            self._bloom_bc.destroy()
            self._bloom_bc = None
        if self._filt is not None:
            self._filt.unpersist()
            self._filt = None
