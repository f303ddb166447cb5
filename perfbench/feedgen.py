"""Seeded changefeed generator for the CDC workloads.

Rows follow ``sources.changefeed.CHANGEFEED_SCHEMA`` (seq, op, rowkey,
family, qualifier, value, ts). The knobs are the traffic dimensions the
replicator's cost depends on: key skew (Zipf exponent over a fixed key
space), whole-row delete share, out-of-order share (a put stamped older
than puts already emitted for the key) and qualifier width. Some
qualifiers carry integers so ES ``range``/``histogram`` searches apply,
one carries whitespace text for ``match``.

Every feed must contain the FIXTURES.md section 2 corners
(delete-then-reinsert, out-of-order ts within a key, same-ts family
collision). ``generate`` plants one of each at the head of the feed and
the random knobs add more; ``check_corners`` raises if one is missing.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FAMILIES = ("cf_a", "cf_b")
TAGS = tuple(f"tag{i:02d}" for i in range(12))
WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
).split()
# 2024-01-01T00:00:00Z in microseconds; mutation k is stamped T0 + k ms.
T0_US = 1_704_067_200_000_000

ARROW_SCHEMA = pa.schema(
    [
        pa.field("seq", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("rowkey", pa.string(), nullable=False),
        pa.field("family", pa.string()),
        pa.field("qualifier", pa.string()),
        pa.field("value", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


def qualifiers(width: int) -> list[str]:
    """``width`` qualifier names: text, tag, then alternating numeric
    (n*) and keyword (s*) columns."""
    if width < 4:
        raise ValueError("qualifier width must be at least 4")
    extra = [f"n{i // 2}" if i % 2 == 0 else f"s{i // 2}" for i in range(width - 2)]
    return ["text", "tag", *extra]


def numeric_qualifiers(width: int) -> list[str]:
    return [q for q in qualifiers(width) if q.startswith("n")]


@dataclass(frozen=True)
class FeedSpec:
    n_files: int
    rows_per_file: int
    n_keys: int
    zipf_s: float  # 0 gives uniform keys
    delete_share: float = 1 / 8
    ooo_share: float = 0.05  # puts stamped up to 5 s in the past
    collision_share: float = 0.04  # puts followed by a same-ts twin
    width: int = 8  # distinct qualifiers

    @property
    def n_rows(self) -> int:
        return self.n_files * self.rows_per_file


def _value_pools(rng: np.random.Generator, width: int) -> dict[str, np.ndarray]:
    texts = np.array(
        [" ".join(rng.choice(WORDS, size=rng.integers(3, 9))) for _ in range(2048)],
        dtype=object,
    )
    nums = np.array([str(i) for i in range(1000)], dtype=object)
    words = np.array(
        [a + b for a in ("ab", "ac", "ba", "bc", "ca", "cb") for b in WORDS],
        dtype=object,
    )
    pools = {"text": texts, "tag": np.array(TAGS, dtype=object)}
    for q in qualifiers(width)[2:]:
        pools[q] = nums if q.startswith("n") else words
    return pools


def generate(spec: FeedSpec, seed: int) -> pa.Table:
    """All mutations of the feed in seq order (seq starts at 1)."""
    rng = np.random.default_rng(seed)
    n = spec.n_rows
    if spec.zipf_s > 0:
        w = 1.0 / np.arange(1, spec.n_keys + 1) ** spec.zipf_s
        hot = rng.choice(spec.n_keys, size=n, p=w / w.sum())
        keys = rng.permutation(spec.n_keys)[hot]  # scatter hot keys
    else:
        keys = rng.integers(0, spec.n_keys, size=n)
    is_del = rng.random(n) < spec.delete_share
    quals = np.array(qualifiers(spec.width), dtype=object)
    qidx = rng.integers(0, len(quals), size=n)
    fam = rng.integers(0, len(FAMILIES), size=n)
    seq = np.arange(1, n + 1, dtype=np.int64)
    ts = T0_US + seq * 1000
    late = (~is_del) & (rng.random(n) < spec.ooo_share)
    ts = np.where(late, ts - rng.integers(1, 5000, size=n) * 1000, ts)

    # Same-ts family collision: an even-indexed put is followed by its twin
    # (same key, qualifier and ts, the other family).
    src = np.arange(0, n - 1, 2)
    pick = src[(~is_del[src]) & (rng.random(len(src)) < spec.collision_share)]
    keys[pick + 1] = keys[pick]
    qidx[pick + 1] = qidx[pick]
    fam[pick + 1] = 1 - fam[pick]
    ts[pick + 1] = ts[pick]
    is_del[pick + 1] = False

    # Plant one of each corner in the first six rows, so that every feed
    # holds them however small or uniform its keys: an out-of-order put
    # (rows 0-1), a delete then reinsert (rows 2-3), a same-ts family
    # collision (rows 4-5).
    is_del[:6] = [False, False, True, False, False, False]
    keys[1], keys[3], keys[5] = keys[0], keys[2], keys[4]
    qidx[1], qidx[5] = qidx[0], qidx[4]
    fam[1], fam[5] = fam[0], 1 - fam[4]
    ts[:6] = T0_US + seq[:6] * 1000
    ts[1], ts[5] = ts[0] - 2_000_000, ts[4]

    pools = _value_pools(rng, spec.width)
    values = np.empty(n, dtype=object)
    for j, q in enumerate(quals):
        m = (qidx == j) & ~is_del
        pool = pools[q]
        values[m] = pool[rng.integers(0, len(pool), size=int(m.sum()))]
    fam_names = np.array(FAMILIES, dtype=object)[fam]
    qual_names = quals[qidx]
    fam_names[is_del] = None
    qual_names[is_del] = None
    values[is_del] = None
    return pa.table(
        [
            pa.array(seq),
            pa.array(np.where(is_del, "delete", "put").astype(object), pa.string()),
            pa.array(np.char.mod("k%07d", keys).astype(object), pa.string()),
            pa.array(fam_names, pa.string()),
            pa.array(qual_names, pa.string()),
            pa.array(values, pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
        ],
        schema=ARROW_SCHEMA,
    )


def check_corners(feed: pa.Table) -> None:
    """Raise ValueError unless the feed holds every FIXTURES.md section 2
    corner case."""
    df = feed.to_pandas()
    df["t"] = df["ts"].astype("int64")
    puts, dels = df[df.op == "put"], df[df.op == "delete"]
    missing = []
    first_del = dels.groupby("rowkey")["seq"].min()
    p = puts.join(first_del.rename("del_seq"), on="rowkey", how="inner")
    if not (p.seq > p.del_seq).any():
        missing.append("delete-then-reinsert")
    by_key = puts.sort_values("seq").groupby("rowkey")["t"]
    if not (by_key.cummax() > puts.sort_values("seq")["t"]).any():
        missing.append("out-of-order ts")
    fams = puts.groupby(["rowkey", "qualifier", "t"])["family"].nunique()
    if not (fams > 1).any():
        missing.append("same-ts family collision")
    if missing:
        raise ValueError(f"changefeed lacks corner cases: {missing}")


def write_files(feed: pa.Table, spec: FeedSpec, out_dir: str) -> list[str]:
    """Split the feed into ``spec.n_files`` contiguous seq ranges, one
    parquet file each; returns the paths in seq order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(spec.n_files):
        part = feed.slice(i * spec.rows_per_file, spec.rows_per_file)
        path = os.path.join(out_dir, f"{i:05d}.parquet")
        pq.write_table(part, path)
        paths.append(path)
    return paths


def stamp_mtimes(paths: list[str], base: float) -> None:
    """Strictly increasing mtimes, one second apart, so the file source
    consumes the files in seq order (as write_changefeed_stream_dir)."""
    for i, path in enumerate(paths):
        os.utime(path, (base + i, base + i))
