"""Per-part key indexes — point-lookup pruning on UNCLUSTERED columns.

The gap this closes (measured honest since r6, BENCH/SCALE_r6.md §4):
zone maps prune on the cluster/bucket key, but an equality predicate on
any other column cannot prune at all — every part's [min, max] envelope
spans the whole key range on hash-scattered data, so a point lookup
decodes the entire table and filters. Parquet/Iceberg answer this with
per-file bloom filters living IN the data files (never the manifest:
filter bits scale with rows-per-file, so a driver-side manifest of them
would grow with total ROWS, not parts).

This implementation keeps the same placement economics but stores the
EXACT sorted set of 64-bit key hashes (blake2b-8 for strings, vectorized
splitmix64 for ints — zero per-row Python) per part as a sidecar
file ``indexes/part-XXXXX.<col>.idx``, delta + bit-packed with the
engine's own int codecs — typically ~2.5-3 bytes/distinct key, no false
positives, and two indexes merge by plain set union (compaction rebuilds
merged sidecars exactly; a bloom would need equal sizing to OR).

Probe semantics mirror zone pruning: may-match only — equality/IN
branches on an indexed column test hash membership; every other
predicate shape, a missing sidecar, or an unindexed column keeps the
part (absence of evidence never prunes). Exactness still comes from the
catalyst filter on the decoded rows. Hash collisions (~n/2^64) can only
KEEP a part, never drop one, so pruning stays correctness-free.

Scale shape: the index is written by the part's own encode task and read
by the part's decode task group (one small GET before the data file) —
nothing driver-side grows with rows. At 10^5 parts a fully-scattered
point lookup reads ~parts x index bytes instead of parts x part bytes.

Only string and integer-family columns are indexable (equality on
floats is ill-defined for lookup workloads); requesting another type
fails at encode time, not silently at probe time.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np
import pyarrow as pa

from . import fsio

_MAGIC = b"FKI1"
_U32 = struct.Struct("<I")
_U64 = struct.Struct("<Q")


def index_path(out_dir: str, pid: int, col: str) -> str:
    return os.path.join(out_dir, "indexes", f"part-{pid:05d}.{col}.idx")


def _hash_bytes(b: bytes) -> int:
    return int.from_bytes(
        hashlib.blake2b(b, digest_size=8).digest(), "little")


def _splitmix64(v: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (Steele/Lea/Flood, public domain)
    — the int-column hash. A NumPy expression over the whole array, so
    indexing a unique-int column (the flagship point-lookup workload)
    adds zero per-row Python to the encode task (review finding, r7:
    the decimal-string + hashlib form was a Python loop per unique)."""
    z = v.astype(np.uint64, copy=True)
    z += np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def value_hash(value) -> int:
    """Hash of one probe value — must agree with column_hashes exactly.
    Strings hash their utf-8 bytes (blake2b-8); integer-family values
    hash via vectorized splitmix64 over the int64 two's-complement
    bits (one canonical form across int widths)."""
    if isinstance(value, str):
        return _hash_bytes(value.encode("utf-8"))
    if isinstance(value, (int, np.integer)) and not isinstance(value, bool):
        return int(_splitmix64(np.array([np.int64(value)]))[0])
    raise TypeError(
        f"key index: unsupported probe type {type(value).__name__} "
        "(string and integer columns only)")


def indexable_type(t: pa.DataType) -> bool:
    # uint64 is excluded (r8, ADVICE r7): values >= 2^63 cannot take the
    # canonical int64 form the probe hash uses — admitting the type would
    # fail deep inside an encode task (ArrowInvalid on cast) instead of
    # at declaration. Unreachable via Spark SQL schemas (no uint64), but
    # direct Arrow callers now get the loud TypeError here/column_hashes.
    return bool(pa.types.is_string(t) or pa.types.is_large_string(t)
                or (pa.types.is_integer(t) and not pa.types.is_uint64(t)))


def column_hashes(arr: pa.Array) -> set[int]:
    """Distinct 64-bit key hashes of a chunk column (nulls skipped).
    Hashing runs over the chunk's UNIQUES only — a clustered chunk has
    few; even unclustered chunks cap at chunk_rows."""
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    arr = arr.drop_null()
    if not indexable_type(arr.type):
        raise TypeError(
            f"key index: column type {arr.type} is not indexable "
            "(string and integer columns only)")
    uniq = pc.unique(arr)
    if pa.types.is_integer(uniq.type):
        vals = uniq.cast(pa.int64()).to_numpy(zero_copy_only=False)
        return set(_splitmix64(vals).tolist())
    return {_hash_bytes(v.encode("utf-8")) for v in uniq.to_pylist()}


def index_bytes(hashes: set[int]) -> bytes:
    """[FKI1][u32 n][u64 first][framed packed deltas] — sorted unique
    uint64 hashes, delta + fixed-width bit-packed (C kernel underneath)."""
    from ..functions.bitpack import pack_uints_framed

    h = np.fromiter(hashes, dtype=np.uint64, count=len(hashes))
    h.sort()
    n = len(h)
    if n == 0:
        return _MAGIC + _U32.pack(0)
    deltas = np.diff(h)
    return (_MAGIC + _U32.pack(n) + _U64.pack(int(h[0]))
            + pack_uints_framed(deltas))


def load_index(blob: bytes | memoryview) -> np.ndarray:
    """Inverse of index_bytes -> sorted uint64 array."""
    from ..functions.bitpack import unpack_uints_framed

    blob = memoryview(blob)
    if bytes(blob[:4]) != _MAGIC:
        raise ValueError("key index: bad magic (not an FKI1 sidecar)")
    n = _U32.unpack_from(blob, 4)[0]
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    first = _U64.unpack_from(blob, 8)[0]
    deltas, _ = unpack_uints_framed(blob[16:])
    out = np.empty(n, dtype=np.uint64)
    out[0] = first
    if n > 1:
        np.cumsum(deltas, out=out[1:])
        out[1:] += np.uint64(first)
    return out


def write_part_index(out_dir: str, pid: int, col: str,
                     hashes: set[int]) -> int:
    fsio.makedirs(os.path.join(out_dir, "indexes"))
    blob = index_bytes(hashes)
    fsio.write_bytes_atomic(index_path(out_dir, pid, col), blob)
    return len(blob)


def probe_hashes(probes, col_type: str | None) -> np.ndarray | None:
    """Hashes of probe values under the COLUMN's canonical form, or None
    when any probe cannot be canonicalized safely — in which case the
    caller must keep the part. Catalyst's filter casts across types
    ('0123' = int column matches 123; int 123 = string column matches
    '0123'), so a probe whose type doesn't match the column exactly (or
    a string int-probe that isn't already canonical) can never refute
    (review finding, r7: the untyped version wrongly pruned those)."""
    hs: list[int] = []
    for v in probes:
        if isinstance(v, bool):
            return None
        if col_type == "string":
            if not isinstance(v, str):
                return None
            hs.append(_hash_bytes(v.encode("utf-8")))
        elif col_type == "int":
            if isinstance(v, (int, np.integer)) \
                    and -(2**63) <= int(v) < 2**63:
                hs.append(value_hash(int(v)))
            elif isinstance(v, str) and v.lstrip("-").isdigit() \
                    and str(int(v)) == v and -(2**63) <= int(v) < 2**63:
                hs.append(value_hash(int(v)))
            else:
                return None
        else:
            return None
    return np.array(hs, dtype=np.uint64)


def part_may_match(pred, out_dir: str, pid: int,
                   indexed_cols: set[str],
                   col_types: dict[str, str],
                   _cache: dict | None = None) -> bool:
    """May-match of a normalized predicate tree against part pid's key
    indexes. Only =/in leaves on indexed columns whose probe values
    canonicalize under the column's type (probe_hashes) can refute;
    every other leaf, a missing/corrupt sidecar, or a cross-type probe
    keeps the part. Collisions only keep. ``col_types`` maps indexed
    column -> 'string' | 'int' (from the table schema). Sidecar loads
    are cached per call so an OR of k leaves on one column costs one
    read, not k. Mirrors manifest._may_match."""
    if pred is None:
        return True
    if _cache is None:
        _cache = {}
    if pred[0] == "and":
        return all(part_may_match(k, out_dir, pid, indexed_cols,
                                  col_types, _cache) for k in pred[1])
    if pred[0] == "or":
        return any(part_may_match(k, out_dir, pid, indexed_cols,
                                  col_types, _cache) for k in pred[1])
    _, col, op, value = pred  # ("leaf", col, op, value)
    if col not in indexed_cols or op not in ("=", "in"):
        return True
    probes = value if op == "in" else [value]
    hs = probe_hashes(probes, col_types.get(col))
    if hs is None:
        return True  # cross-type / uncanonical probe: cannot refute
    path = index_path(out_dir, pid, col)
    if path not in _cache:
        try:
            _cache[path] = load_index(fsio.read_bytes(path))
        except (OSError, ValueError):
            _cache[path] = None  # absent/corrupt sidecar never prunes
    idx = _cache[path]
    if idx is None:
        return True
    if len(idx) == 0:
        return False  # empty part index + equality probe: impossible
    pos = np.searchsorted(idx, hs)
    pos = np.minimum(pos, len(idx) - 1)
    return bool((idx[pos] == hs).any())
