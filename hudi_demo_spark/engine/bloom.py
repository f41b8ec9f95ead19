"""Per-file bloom-filter key index (M1 — the reference's headline tuning
surface: ``bloomFilterFPP(0.000001)`` and
``BLOOM_INDEX_FILTER_DYNAMIC_MAX_ENTRIES = 150000``,
JavaClientHive2Hudi.java:167-180).

Hudi's BLOOM index stores a bloom filter over record keys in every base
file's parquet footer and consults it during upsert tagging, after
key-range pruning: a file whose range overlaps the batch may still be
skippable when the filter proves none of the batch's keys are present.
The engine consults it in the same place for every record-key probe
(`Engine._key_probe`): write tagging (insert-dedup, upsert,
delete_keys, merge) and record-key point reads (``keycol = lit``).
This module is the engine analog: each filter is built by the write's
metadata tail, in the same pyarrow open of the just-written file that
reads its footer stats — on the driver for ordinary commits (no Spark
job), inside one executor job for bulk ones (many files or many keys),
where each task writes its files' sidecars and the driver sees only
acks — and persisted as a
sidecar file under ``<table>/_index/bloom/``, mirroring the data layout.
A filter depends only on the multiset of its file's keys, so both
sides write the same bytes. Lookups are vectorized (numpy) and only
engage for small probes — the point-lookup regime where bloom pruning
pays; large batches touch most files anyway and skip the sidecar reads
entirely. They run on the driver for a few candidate files and as one
executor job for many (`Engine._per_file`, the switch the build shares).

Hashing is md5 double-hashing (``h1 + i*h2 mod m``) — engine-portable
and identical bits on build and probe (driver or executor), with no
dependency on JVM hash functions. No false negatives by
construction: an overloaded filter (file rows > the dynamic entry cap)
degrades to higher FPP, never to a wrong skip.
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

BLOOM_DIR = "_index/bloom"

# reference defaults: JavaClientHive2Hudi.java:178 (FPP), :168 (entries)
DEFAULT_FPP = 1e-6
DEFAULT_MAX_ENTRIES = 150_000
# lookup engages only for batches up to this many distinct keys — the
# ~100k-rows-per-batch guidance of JavaClientHive2Hudi.java:194; larger
# batches intersect nearly every file and pruning can't pay for probing
DEFAULT_LOOKUP_MAX_KEYS = 100_000


def sizing(n: int, fpp: float, max_entries: int) -> tuple[int, int]:
    """(m bits, k hashes) for n keys at target fpp, with the dynamic
    entry cap: past `max_entries` the filter stays at the capped size
    and its FPP degrades (bloom filters never produce false negatives,
    so an overloaded filter is safe, just less selective)."""
    n_eff = max(1, min(n, max_entries))
    m = max(64, int(math.ceil(-n_eff * math.log(fpp) / (math.log(2) ** 2))))
    m = (m + 63) & ~63  # round to whole 64-bit words
    k = max(1, round(m / n_eff * math.log(2)))
    return m, k


def key_hashes(key: str) -> tuple[int, int]:
    """(h1, h2) 64-bit double-hash pair for a record key. h2 forced odd
    so the probe sequence cycles the whole filter for power-of-two m."""
    d = hashlib.md5(key.encode("utf-8")).digest()
    h1 = int.from_bytes(d[0:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1
    return h1, h2


def build(keys, fpp: float, max_entries: int) -> bytes:
    """Serialize a bloom filter over an iterable of string keys:
    one JSON header line + packed little-endian bitmap."""
    import numpy as np

    keys = list(keys)
    m, k = sizing(len(keys), fpp, max_entries)
    bits = np.zeros(m // 8, dtype=np.uint8)
    if keys:
        pairs = np.array([key_hashes(s) for s in keys], dtype=np.uint64)
        h1, h2 = pairs[:, 0], pairs[:, 1]
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
            np.bitwise_or.at(bits, (pos // 8).astype(np.int64),
                             np.left_shift(1, (pos % 8).astype(np.uint8)))
    header = json.dumps({"m": m, "k": k, "n": len(keys)}).encode() + b"\n"
    return header + bits.tobytes()


def load(path: Path):
    """(m, k, bitmap ndarray) from a sidecar file; None if unreadable
    (probe then keeps the file — conservative)."""
    import numpy as np

    try:
        raw = path.read_bytes()
        nl = raw.index(b"\n")
        hdr = json.loads(raw[:nl])
        bits = np.frombuffer(raw[nl + 1:], dtype=np.uint8)
        if bits.size * 8 != hdr["m"]:
            return None
        return hdr["m"], hdr["k"], bits
    except Exception:
        return None


def might_contain_any(bloom, h1, h2) -> bool:
    """True unless the filter PROVES none of the probed keys are in the
    file. h1/h2 are uint64 numpy arrays (one entry per batch key)."""
    import numpy as np

    m, k, bits = bloom
    alive = np.ones(len(h1), dtype=bool)
    for i in range(k):
        pos = (h1[alive] + np.uint64(i) * h2[alive]) % np.uint64(m)
        hit = (bits[(pos // 8).astype(np.int64)]
               >> (pos % 8).astype(np.uint8)) & 1
        keep = np.zeros(len(h1), dtype=bool)
        keep[np.flatnonzero(alive)[hit.astype(bool)]] = True
        alive = keep
        if not alive.any():
            return False
    return True


def sidecar_path(table_path: str | Path, rel_file: str) -> Path:
    """Sidecar location for a data file's bloom: mirrors the partition
    layout under _index/bloom/ so cleanup is a name join."""
    return Path(table_path) / BLOOM_DIR / (rel_file + ".bf")
