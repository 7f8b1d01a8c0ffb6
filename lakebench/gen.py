"""Seeded input generation for the lake benchmark.

Nothing here calls the library: the program under test only ever
receives the rows generated here. Operation-sized batches come from
numpy and are a deterministic function of the
``numpy.random.Generator`` state, so a seed fixes the whole input
stream (and any prefix of it). Fixture-sized batches (:func:`spark_rows`)
are Spark expressions over a hash of ``(seed, stream, key)``, so a
million-row load never passes through the driver.

Rows have the table columns ``dt`` (string partition), ``k`` (bigint
key), ``v`` (bigint value) and ``s`` (string value), plus ``kind`` (the
Paimon row kind: 0 = +I, 2 = +U, 3 = -D). Integer and string columns
only, so row checksums are exact. A key's partition is a function of
the key (:func:`dt_of`), which makes ``k`` alone identify a row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

PARTITIONS = np.array([f"2026-10-{d:02d}" for d in range(1, 9)], dtype=object)

INSERT, UPDATE, DELETE = 0, 2, 3

#: value range of ``v``; the filtered-scan predicate ``v < 100`` keeps
#: about a tenth of the rows
V_RANGE = 1000

def dt_of(keys: np.ndarray) -> np.ndarray:
    return PARTITIONS[np.asarray(keys) % len(PARTITIONS)]


def make_rows(rng: np.random.Generator, keys: np.ndarray, kinds) -> pd.DataFrame:
    """Rows for ``keys`` with fresh random values; ``kinds`` is one
    row kind or an array of them."""
    keys = np.asarray(keys, dtype=np.int64)
    n = len(keys)
    v = rng.integers(0, V_RANGE, n, dtype=np.int64)
    tag = rng.integers(0, 1 << 40, n, dtype=np.int64)
    s = np.char.add("s", np.char.mod("%x", tag)).astype(object)
    return pd.DataFrame(
        {
            "dt": dt_of(keys),
            "k": keys,
            "v": v,
            "s": s,
            "kind": np.broadcast_to(np.asarray(kinds, dtype=np.int32), (n,)).copy(),
        }
    )


class Zipf:
    """Bounded zipf over ``n`` keys: rank r is drawn with weight
    ``r ** -theta``; a seeded permutation maps ranks to keys so the hot
    keys spread over every partition and bucket."""

    def __init__(self, rng: np.random.Generator, n: int, theta: float = 0.99):
        w = np.arange(1, n + 1, dtype=np.float64) ** -theta
        self._cdf = np.cumsum(w) / w.sum()
        self._keys = rng.permutation(n).astype(np.int64)

    def sample(self, rng: np.random.Generator, size: int) -> np.ndarray:
        ranks = np.searchsorted(self._cdf, rng.random(size), side="right")
        return self._keys[np.minimum(ranks, len(self._keys) - 1)]

    def distinct(self, rng: np.random.Generator, size: int) -> np.ndarray:
        """Up to ``size`` distinct keys, in first-drawn order."""
        out = np.empty(0, dtype=np.int64)
        for _ in range(16):
            draw = np.concatenate([out, self.sample(rng, 2 * size)])
            _, first = np.unique(draw, return_index=True)
            out = draw[np.sort(first)][:size]
            if len(out) == size:
                break
        return out


def cdc_batch(
    rng: np.random.Generator, zipf: Zipf, next_key: int, size: int
) -> pd.DataFrame:
    """One CDC micro-batch, unique per key: ~70% +U on zipf-hot
    existing keys, ~20% +I of keys from ``next_key`` on, ~10% -D on
    zipf-hot existing keys. A later +U of a deleted key re-inserts it."""
    n_new = size // 5
    n_del = size // 10
    old = zipf.distinct(rng, size - n_new)
    n_del = min(n_del, len(old) // 8)
    kinds = np.full(len(old), UPDATE, dtype=np.int32)
    kinds[rng.choice(len(old), n_del, replace=False)] = DELETE
    keys = np.concatenate([old, np.arange(next_key, next_key + n_new, dtype=np.int64)])
    kinds = np.concatenate([kinds, np.full(n_new, INSERT, dtype=np.int32)])
    return make_rows(rng, keys, kinds)


def spark_rows(spark, seed: int, stream: int, n_keys: int, kind: int, where=None):
    """Rows for keys ``0..n_keys-1`` (those passing ``where``, a
    function of the key column) with values hashed from ``(seed,
    stream, key)``: ``v`` uniform over ``V_RANGE``, ``s`` an ``s``
    followed by a 40-bit hex tag, as :func:`make_rows` draws them."""
    from pyspark.sql import functions as F

    k = F.col("id")
    keys = spark.range(n_keys)
    if where is not None:
        keys = keys.filter(where(k))
    h = lambda salt: F.xxhash64(F.lit(seed), F.lit(stream), F.lit(salt), k)  # noqa: E731
    return keys.select(
        F.element_at(
            F.array(*[F.lit(p) for p in PARTITIONS]), (F.pmod(k, len(PARTITIONS)) + 1).cast("int")
        ).alias("dt"),
        k.alias("k"),
        F.pmod(h(0), F.lit(V_RANGE)).alias("v"),
        F.concat(F.lit("s"), F.lower(F.hex(F.pmod(h(1), F.lit(1 << 40))))).alias("s"),
        F.lit(kind).cast("int").alias("kind"),
    )


def key_slots(seed: int, stream: int, slots: int, lo: int, hi: int):
    """``where`` for :func:`spark_rows`: keys whose seeded hash, taken
    modulo ``slots``, falls in ``[lo, hi)`` -- a seeded share of the
    key space, or one part of a seeded partition of it."""
    from pyspark.sql import functions as F

    def where(k):
        slot = F.pmod(F.xxhash64(F.lit(seed), F.lit(stream), F.lit(2), k), F.lit(slots))
        return (slot >= F.lit(lo)) & (slot < F.lit(hi))

    return where


def logical_bytes(pdf: pd.DataFrame) -> int:
    """Logical size of rows: 8 B per bigint, UTF-8 length per string
    (the row kind is metadata, not user data). Generated strings are
    ASCII, so their character count is their UTF-8 length."""
    return 16 * len(pdf) + int(pdf["dt"].str.len().sum() + pdf["s"].str.len().sum())
