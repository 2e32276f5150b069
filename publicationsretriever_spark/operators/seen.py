"""J2: the URL-seen set (duplicate detection across rounds).

Reference: a JVM-global ``Set<String> duplicateUrls``
(util/url/UrlUtils.java:41) probed per url
(LoaderAndChecker.java:627-633). That is exact but single-node.

Spark-native design (north rule: "per-partition cuckoo-filter URL-seen
set unioned via broadcast bloom sketches"):

1. SCALE PATH — a broadcast **bloom sketch** built per-partition over
   ``url_hash`` (one Arrow-batch pass, numpy-vectorized), OR-reduced on
   the driver (tiny: bits only), broadcast back. ``probe`` marks rows
   "possibly seen". At 10^10 frontier scale this drops ~|fpp| of unseen
   rows from the expensive exact join's build side — the anti-join's
   shuffle then only carries bloom-positive rows.
2. EXACT PATH — ``left_anti`` join against the ``seen`` table on
   ``url_hash``. Always correct; used alone at small scale and as the
   confirmation stage after the bloom prefilter at large scale.

Equivalence: (bloom prefilter -> exact anti-join) == (exact anti-join),
proven by ``tests/test_seen.py``. False positives of the sketch only
send extra rows into the exact join, never change the result.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class BloomSketch:
    """A plain bit-array bloom filter over int64 keys, built to be
    mergeable (bitwise OR) across partitions and cheap to broadcast.

    k hash functions are derived from the 64-bit key by splitting and
    mixing (Kirsch-Mitzenmacher double hashing: h_i = h1 + i*h2)."""

    __slots__ = ("m_bits", "k", "bits")

    def __init__(self, m_bits: int, k: int, bits: np.ndarray | None = None):
        self.m_bits = m_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(m_bits // 8 + 1, dtype=np.uint8)

    @classmethod
    def for_capacity(cls, n: int, fpp: float = 0.01) -> "BloomSketch":
        n = max(n, 1)
        m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2)))
        return cls(m, min(k, 8))

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        """(len(keys), k) bit positions. Vectorized over the batch."""
        u = keys.astype(np.uint64)
        h1 = (u ^ (u >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
        h1 ^= h1 >> np.uint64(33)
        h2 = (u * np.uint64(0xC4CEB9FE1A85EC53)) | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)
        return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(self.m_bits)).astype(
            np.int64
        )

    def add(self, keys: np.ndarray) -> None:
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def contains(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        got = (self.bits[pos >> 3] >> (pos & 7)) & 1
        return got.all(axis=1)

    def merge(self, other: "BloomSketch") -> "BloomSketch":
        assert self.m_bits == other.m_bits and self.k == other.k
        return BloomSketch(self.m_bits, self.k, np.bitwise_or(self.bits, other.bits))


def build_bloom(df: DataFrame, key_col: str, capacity: int, fpp: float = 0.01) -> BloomSketch:
    """Build a bloom sketch over ``df[key_col]`` (int64): one vectorized
    pass per partition via mapInPandas, partial sketches OR-merged on the
    driver. Only the bit arrays travel — ~1.2 MB per partition at
    capacity 10^6 / fpp 1%."""
    proto = BloomSketch.for_capacity(capacity, fpp)
    m_bits, k = proto.m_bits, proto.k

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketch = BloomSketch(m_bits, k)
        for pdf in batches:
            sketch.add(pdf[key_col].to_numpy(dtype=np.int64))
        yield pd.DataFrame({"bits": [sketch.bits.tobytes()]})

    parts = df.select(key_col).mapInPandas(per_partition, schema="bits binary").collect()
    out = BloomSketch(m_bits, k)
    for row in parts:
        out = out.merge(BloomSketch(m_bits, k, np.frombuffer(row["bits"], dtype=np.uint8).copy()))
    return out


def probe_bloom(df: DataFrame, key_col: str, sketch: BloomSketch, out_col: str = "maybe_seen") -> DataFrame:
    """Adds a boolean column: True = possibly seen (needs exact check),
    False = DEFINITELY unseen (bloom guarantee). Broadcast via closure —
    Spark ships it once per executor inside the serialized task."""
    m_bits, k, bits = sketch.m_bits, sketch.k, sketch.bits

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s = BloomSketch(m_bits, k, bits)
        for pdf in batches:
            res = s.contains(pdf[key_col].to_numpy(dtype=np.int64))
            yield pdf.assign(**{out_col: res})

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInPandas(probe, schema=f"{schema}, {out_col} boolean")


def shard_sketch_params(capacity: int, n_shards: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) of each shard's bloom for a TOTAL capacity."""
    proto = BloomSketch.for_capacity(max(capacity // n_shards, 1), fpp)
    return proto.m_bits, proto.k


def _or_merge_fn(m_bits: int, k: int):
    """applyInPandas closure: OR-merge one shard's (shard, bits) rows
    into a single row — shared by the full build and the incremental
    table merge so the encoding stays defined in one place."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        out = BloomSketch(m_bits, k)
        for b in pdf["bits"]:
            out = out.merge(
                BloomSketch(m_bits, k, np.frombuffer(b, dtype=np.uint8).copy())
            )
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "bits": [out.bits.tobytes()]}
        )

    return merge


def build_bloom_shards(
    seen: DataFrame, key_col: str, capacity: int, n_shards: int = 16,
    fpp: float = 0.01, m_bits: int | None = None, k: int | None = None,
) -> DataFrame:
    """SHARDED sketch build for 10^10-key seen sets: keys are split by
    ``pmod(key, n_shards)`` and each shard gets its own bloom sized for
    capacity/n_shards. Returns a (shard int, bits binary) DataFrame.

    Memory bound: a whole-set sketch at 10^10 keys / 1%% fpp is ~12 GB —
    shipped in the task closure (``probe_bloom``) that is 12 GB PER TASK
    BINARY. Sharding bounds the per-task bytes to total/n_shards because
    the probe joins each frontier shard with exactly its own sketch row
    (cogrouped applyInPandas), never materializing all shards in one
    task.

    Pass explicit ``m_bits``/``k`` to build DELTA partials compatible
    with an existing sketch table (incremental maintenance: sketches
    with identical params merge by bitwise OR, so a round only builds
    partials over its seen DELTA and ORs them into the persisted
    table — per-round cost tracks the delta, not the crawl age)."""
    if m_bits is None or k is None:
        m_bits, k = shard_sketch_params(capacity, n_shards, fpp)

    def partials(batches) -> pd.DataFrame:
        # one pass per PARTITION (bounded memory: arrow-batch sized
        # inputs, n_shards small sketches), yielding per-shard partials
        sketches: dict[int, BloomSketch] = {}
        for pdf in batches:
            keys = pdf[key_col].to_numpy(dtype=np.int64)
            shards = pdf["_shard"].to_numpy(dtype=np.int64)
            for sh in np.unique(shards):
                sketches.setdefault(int(sh), BloomSketch(m_bits, k)).add(
                    keys[shards == sh]
                )
        yield pd.DataFrame(
            {"shard": list(sketches), "bits": [s.bits.tobytes() for s in sketches.values()]}
        )

    partial_df = (
        seen.select(key_col)
        .withColumn("_shard", F.pmod(F.col(key_col), F.lit(n_shards)).cast("int"))
        .mapInPandas(partials, schema="shard int, bits binary")
    )
    return partial_df.groupBy("shard").applyInPandas(
        _or_merge_fn(m_bits, k), schema="shard int, bits binary"
    )


def merge_shard_sketches(
    prior: DataFrame, delta_partials: DataFrame, m_bits: int, k: int
) -> DataFrame:
    """OR-merge two (shard, bits) sketch tables built with identical
    (m_bits, k). Cost ~ n_shards rows — the incremental per-round
    maintenance step for the sharded seen sketch."""
    return (
        prior.unionByName(delta_partials)
        .groupBy("shard")
        .applyInPandas(_or_merge_fn(m_bits, k), schema="shard int, bits binary")
    )


def _seen_marker(seen: DataFrame, key_col: str, out_col: str):
    """The shared exact-confirm stage of mark_seen and
    mark_seen_sharded: a distinct'd (key, True) marker with the
    shuffle_hash hint (the seen table grows without bound — an
    auto-broadcast is a driver-collect trap, see anti_join_seen), and
    the left-join+coalesce that turns it into a boolean column.
    One definition so neither dispatch path can lose the hint or the
    distinct independently."""
    marker = (
        seen.select(key_col).distinct()
        .withColumn(out_col, F.lit(True))
        .hint("shuffle_hash")
    )

    def confirm(df: DataFrame) -> DataFrame:
        j = df.join(marker, on=key_col, how="left")
        return j.withColumn(
            out_col, F.coalesce(F.col(out_col), F.lit(False))
        )

    return confirm


def mark_seen_sharded(
    frontier: DataFrame,
    seen: DataFrame,
    key_col: str = "url_hash",
    seen_count: int | None = None,
    n_shards: int = 16,
    fpp: float = 0.01,
    out_col: str = "_seen",
    sketches: DataFrame | None = None,
    m_bits: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """Sharded-bloom variant of :func:`mark_seen` for seen sets whose
    whole-set sketch would blow the task binary (10^10 keys). Same
    result as the exact marker join (equivalence-tested): the bloom can
    only send EXTRA rows into the exact join, never change the answer.

    Plan shape: frontier + sketches are COGROUPED on the shard key, so
    each task holds exactly one shard's bits (total_bits/n_shards);
    bloom-negative rows skip the exact join entirely.

    Pass ``sketches`` (+ its ``m_bits``/``k``/``n_shards``) to reuse an
    incrementally-maintained sketch table (the engine persists one in
    crawl state and ORs each round's seen delta into it) — without it
    the full seen table is re-sketched HERE, an O(crawl age) per-round
    cost that the flatness bench flags at depth."""
    if seen_count is None:
        seen_count = seen.count()
    if sketches is None:
        sketches = build_bloom_shards(
            seen, key_col, capacity=max(seen_count, 1),
            n_shards=n_shards, fpp=fpp,
        )
    if m_bits is None or k is None:
        m_bits, k = shard_sketch_params(max(seen_count, 1), n_shards, fpp)
    shard_col = F.pmod(F.col(key_col), F.lit(n_shards)).cast("int")
    fr = frontier.withColumn("_shard", shard_col)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in fr.schema.fields
    ) + ", _maybe boolean"

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.assign(_maybe=pd.Series([], dtype=bool))
        if right.empty:  # no sketch for this shard: nothing was ever seen
            return left.assign(_maybe=False)
        sketch = BloomSketch(
            m_bits, k, np.frombuffer(right["bits"].iloc[0], dtype=np.uint8).copy()
        )
        return left.assign(
            _maybe=sketch.contains(left[key_col].to_numpy(dtype=np.int64))
        )

    probed = fr.groupBy("_shard").cogroup(sketches.groupBy("shard")).applyInPandas(
        probe, schema=out_schema
    )
    definitely_new = (
        probed.filter(~F.col("_maybe"))
        .drop("_maybe", "_shard")
        .withColumn(out_col, F.lit(False))
    )
    maybe = probed.filter(F.col("_maybe")).drop("_maybe", "_shard")
    confirmed = _seen_marker(seen, key_col, out_col)(maybe)
    return definitely_new.unionByName(confirmed)


def anti_join_seen(frontier: DataFrame, seen: DataFrame, key_col: str = "url_hash") -> DataFrame:
    """EXACT path: frontier rows whose key is NOT in ``seen``.

    The seen side carries a ``shuffle_hash`` hint: it is the one table
    that GROWS WITHOUT BOUND across rounds, so letting Spark's size
    threshold auto-broadcast it is a trap — a driver-side collect of
    millions of hashes serializes the round (measured: ~20%% of a
    2M-URL round's wall) and eventually OOMs the driver at 10^10 scale.
    A shuffled hash join stays executor-side at every size."""
    return frontier.join(
        seen.select(key_col).hint("shuffle_hash"), on=key_col, how="left_anti"
    )


#: ~1.2 bytes/key at 1% fpp -> a whole-set sketch crosses ~38 MB of
#: task-closure bytes at 32M keys; above that the sharded cogrouped
#: probe (bounded per-task bytes) takes over
SHARDED_THRESHOLD = 32_000_000
#: per-shard sketch budget for the sharded path (bytes)
SHARD_SKETCH_BYTES = 32 * 1024 * 1024


def shards_for(seen_count: int, fpp: float = 0.01) -> int:
    """Shard count sizing each shard's sketch under SHARD_SKETCH_BYTES:
    ~1.2 bytes/key at 1% fpp -> 10^10 keys = ~12 GB total = ~384
    shards of <=32 MB each."""
    bytes_per_key = -math.log(fpp) / (math.log(2) ** 2) / 8
    total = seen_count * bytes_per_key
    return max(16, math.ceil(total / SHARD_SKETCH_BYTES))


def mark_seen(
    frontier: DataFrame,
    seen: DataFrame,
    key_col: str = "url_hash",
    seen_count: int | None = None,
    bloom_threshold: int = 2_000_000,
    sharded_threshold: int = SHARDED_THRESHOLD,
    fpp: float = 0.01,
    out_col: str = "_seen",
    sketch_state: tuple[DataFrame, int, int, int] | None = None,
) -> DataFrame:
    """Mark every frontier row with whether its key is in ``seen``:
    adds ``out_col`` (True = key present in ``seen``) and KEEPS both
    sides. The crawl engine needs both partitions of the frontier
    (unseen -> fetch, seen -> duplicate log,
    LoaderAndChecker.java:627-633), and a single left join with a
    marker costs one shuffle where an anti-join plus a semi-join would
    cost two over the same data; a caller that wants only the unseen
    rows filters on ``~out_col``.

    Bloom fast path: rows the broadcast sketch proves unseen skip the
    exact join entirely (they can never be duplicates — bloom has no
    false negatives); only "maybe seen" rows shuffle into the exact
    marker join.

    Size dispatch (the engine's default path at every scale):
    ``seen_count < bloom_threshold`` -> plain exact join;
    ``< sharded_threshold`` -> whole-set sketch in the probe closure;
    above -> :func:`mark_seen_sharded` (cogrouped per-shard probe, per-
    task sketch bytes bounded by SHARD_SKETCH_BYTES — a whole-set
    sketch at 10^10 keys is ~12 GB PER TASK BINARY and must never ship)."""
    if seen_count is None:
        seen_count = seen.count()
    if seen_count >= sharded_threshold:
        if sketch_state is not None:
            sk_df, sk_m, sk_k, sk_shards = sketch_state
            return mark_seen_sharded(
                frontier, seen, key_col, seen_count=seen_count,
                n_shards=sk_shards, fpp=fpp, out_col=out_col,
                sketches=sk_df, m_bits=sk_m, k=sk_k,
            )
        return mark_seen_sharded(
            frontier, seen, key_col, seen_count=seen_count,
            n_shards=shards_for(seen_count, fpp), fpp=fpp, out_col=out_col,
        )
    # marker construction + confirm join shared with the sharded path
    # (_seen_marker): distinct'd so the left join matches anti/semi
    # semantics under duplicate keys, shuffle_hash so the growing seen
    # table is never auto-broadcast.
    exact = _seen_marker(seen, key_col, out_col)

    if seen_count < bloom_threshold:
        return exact(frontier)
    sketch = build_bloom(seen, key_col, capacity=seen_count, fpp=fpp)
    probed = probe_bloom(frontier, key_col, sketch)
    definitely_new = (
        probed.filter(~F.col("maybe_seen"))
        .drop("maybe_seen")
        .withColumn(out_col, F.lit(False))
    )
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    return definitely_new.unionByName(exact(maybe))
