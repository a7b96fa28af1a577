"""Per-file key bloom filters — point-lookup file skipping inside a
bucket (the Delta bloom-index / parquet-bloom shape, sidecar-file
variant).

Zone maps can't help a point lookup on the *key*: keys are
hash-distributed, so every file's key window spans the whole domain.
Bucket pruning (``functions/murmur.py``) already cuts a lookup to one
bucket, but at the 100 TB design point one bucket is ~6 GB across
dozens of files — all of which scan today. A per-file bloom over the
keys' 32-bit Murmur3 fingerprints (the SAME ``F.hash`` the bucket
layout uses, so the driver-side probe needs no new hash parity) skips
every file that provably doesn't hold the key: no false negatives, so
pruning can never drop a row, for base and merge-on-read delta files
alike (probing asks "could this file contain the key" — the LWW fold
over the surviving files is unchanged).

Blooms live in *sidecar files* (``<data-file>.bloom``) next to the
parquet, NOT in the manifests: at ~1.25 bytes/key a 100k-key file
carries a ~128 KB filter, which would bloat the O(manifest-list)
metadata the snapshot design defends; a probe reads only the candidate
bucket's sidecars (KBs) before deciding which multi-MB parquet files to
plan. Nothing about blooms lands in the manifest: the probe looks for
``<path>.bloom`` next to each candidate file, and a missing/unreadable
sidecar degrades to "keep the file" — conservative by construction.

Layout: JSON ``{"m": bits, "k": hashes, "b64": bitmap}``. ``m`` is a
power of two sized at ~10 bits per distinct key (classic ~1 % false
positive rate at k = 7), built vectorized in the write task from the
key-hash column: ``F.hash`` computed JVM-side for library writes, the
vectorized Murmur3 kernel (``functions/murmur.py``) for the ``panorama``
data source's writers — no writer hashes row by row in Python.

Reference parity note: the reference scans its whole S3 prefix per
query (``panorama_datalake.py``); this is a scale addition.
"""

from __future__ import annotations

import base64
import json
import math

K = 7
_MIN_BITS = 1 << 10
_MAX_BITS = 1 << 23  # 1 MiB bitmap cap per file


def _mix32_np(x):
    """murmur3 fmix32, vectorized — the second hash must avalanche the
    HIGH bits of the fingerprint into the low ``log2(m)`` index bits; a
    linear h2 = h1*C would make the whole index set a function of
    h1 mod m, degrading the filter to an m-way fingerprint table."""
    x = (x ^ (x >> 16)) & 0xFFFFFFFF
    x = (x * 0x85EBCA6B) & 0xFFFFFFFF
    x = (x ^ (x >> 13)) & 0xFFFFFFFF
    x = (x * 0xC2B2AE35) & 0xFFFFFFFF
    return (x ^ (x >> 16)) & 0xFFFFFFFF


def _mix32(x: int) -> int:
    x = (x ^ (x >> 16)) & 0xFFFFFFFF
    x = (x * 0x85EBCA6B) & 0xFFFFFFFF
    x = (x ^ (x >> 13)) & 0xFFFFFFFF
    x = (x * 0xC2B2AE35) & 0xFFFFFFFF
    return (x ^ (x >> 16)) & 0xFFFFFFFF


def build(hashes) -> tuple[int, "object"]:
    """``(m_bits, bitmap uint8 array)`` from an int array of 32-bit
    Murmur3 fingerprints (signed or unsigned; deduped here)."""
    import numpy as np

    h1 = np.unique(np.asarray(hashes, dtype=np.int64) & 0xFFFFFFFF)
    n = max(len(h1), 1)
    m = 1 << min(max(int(math.ceil(math.log2(10 * n))), 10), 23)
    h2 = _mix32_np(h1) | 1
    bits = np.zeros(m >> 3, dtype=np.uint8)
    for i in range(K):
        idx = (h1 + i * h2) % m
        np.bitwise_or.at(bits, idx >> 3, np.left_shift(1, idx & 7).astype(np.uint8))
    return m, bits


def serialize(m: int, bits) -> str:
    return json.dumps(
        {"m": int(m), "k": K, "b64": base64.b64encode(bytes(bits)).decode()}
    )


def deserialize(text: str) -> dict:
    doc = json.loads(text)
    doc["bits"] = base64.b64decode(doc["b64"])
    return doc


def sidecar_file_filter(io, root: str, fingerprints: list[int]):
    """File predicate over per-file key bloom sidecars — the ONE probe
    implementation, run by ``plan_state_files`` for both read engines
    and routed through the ``FileIO`` seam (a bare ``open()`` would silently lose bloom
    pruning on any non-POSIX backend). Keeps a file unless its sidecar
    proves none of the probe fingerprints are in it; a missing or
    unreadable sidecar keeps the file (conservative). Sidecar docs
    cache per call."""
    import os

    cache: dict[str, object] = {}

    def keep(f) -> bool:
        doc = cache.get(f.path)
        if doc is None:
            try:
                doc = deserialize(io.read_text(os.path.join(root, f.path + ".bloom")))
            except Exception:
                doc = False  # unreadable/missing: never skip this file
            cache[f.path] = doc
        if doc is False:
            return True
        return any(might_contain(doc, fp) for fp in fingerprints)

    return keep


def might_contain(doc: dict, fingerprint: int) -> bool:
    """Probe one 32-bit fingerprint (signed ok) against a deserialized
    sidecar. False ⇒ the key is definitively absent from the file."""
    m, k, bits = doc["m"], doc["k"], doc["bits"]
    h1 = fingerprint & 0xFFFFFFFF
    h2 = _mix32(h1) | 1
    for i in range(k):
        idx = (h1 + i * h2) % m
        if not (bits[idx >> 3] >> (idx & 7)) & 1:
            return False
    return True
