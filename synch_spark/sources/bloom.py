"""Per-file Bloom-filter index for the versioned parquet store.

Footer min/max stats (file_key_range) prune a file only when the batch's
keys miss its [lo, hi] range entirely. Files with INTERLEAVED keys —
unclustered appends, overlapping compaction outputs — have wide ranges
that overlap every batch, so min/max proves nothing and the CoW merge
rewrites them for no reason. A Bloom filter answers the sharper
question "could ANY of these keys be in this file?" with no false
negatives, cutting rewrites to files that (almost certainly) hold a
touched key. This is Delta's bloom-filter-index / Hudi's bloom-index
idea, rebuilt on the same sidecar-file principle.

Design constraints that make it cheap:

- Data files are IMMUTABLE pool files (`<root>/data/`); a file keeps
  its pool-relative path (partition dirname + basename) for life,
  across every version that references it. Sidecars are keyed by that
  RELATIVE PATH (escaped into one flat `<root>/_bloom/` dir) —
  basenames alone are NOT unique: one task writing a partitioned table
  emits the same `part-00000-<uuid>` basename into every partition
  directory, and a basename-keyed sidecar would let partition A's
  bloom prove false absence for partition B's file (a lost update in
  the merge). No version bookkeeping; carried files keep their bloom
  for free; a sidecar is write-once like its file.
- Missing sidecar = no pruning claim (falls back to min/max semantics);
  stale sidecars for files no longer in the current version are inert
  garbage until ``gc_blooms`` (run by compaction) unlinks them — the
  flat ``_bloom/`` dir is OUTSIDE the version dirs, so version GC alone
  never removes them.
- Double hashing (Kirsch-Mitzenmacher): bit_i = (h1 + i*h2) mod m with
  h1/h2 from one blake2b digest — k probes from one hash evaluation.
  The build sets the bits in NumPy, a fixed-size chunk of keys per
  pass, as ((h1 mod m) + i*(h2 mod m)) mod m: the same residue, kept
  below k*m so uint64 never wraps. The probe side evaluates the plain
  formula on Python ints; both read the same bits.

A file's sidecar is built from its key column read with pyarrow: on the
driver, or as one executor task per file when the caller passes a
session and there are several files to build. Only the
blake2b digest runs per key in Python; everything after it is
vectorized.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os

import numpy as np

FPP_BITS_PER_KEY = 10  # ~1% false-positive rate at k=7
NUM_HASHES = 7
BUILD_CHUNK = 1 << 16  # keys hashed per NumPy pass in the sidecar build


def bloom_safe_key(value) -> bool:
    """Key types whose build-side (pyarrow ``to_pylist``) and probe-side
    (Spark ``collect``) python representations are IDENTICAL — the
    no-false-negative invariant is only type-enforceable for these.
    Timestamps (tz-aware vs naive), decimals, and floats (float32
    widening) can stringify differently across the two paths, and a
    divergence would be a silent false negative — in the CoW merge that
    reclassifies a file holding a changed key from rewrite to hard link,
    i.e. a lost update. Mirrors what _EXACT_STAT_TYPES does for min/max
    stats.

    bytearray counts as bytes: Spark ``collect()`` returns BinaryType
    values as bytearray while pyarrow's build side yields bytes —
    rejecting the probe-side representation made binary-pk blooms build
    (full key-column read per file) and then never prune a single
    merge."""
    return (isinstance(value, (int, str, bytes, bytearray))
            and not isinstance(value, bool))


def _digest(value) -> bytes:
    """16-byte blake2b of a key's type-tagged canonical bytes
    (int/str/bytes), so build and probe hash the same input."""
    if isinstance(value, (bytes, bytearray)):
        raw = b"b:" + bytes(value)
    elif isinstance(value, int):
        raw = b"i:" + str(value).encode()
    else:
        raw = b"s:" + str(value).encode()
    return hashlib.blake2b(raw, digest_size=16).digest()


def _hashes(value) -> tuple[int, int]:
    """(h1, h2) for a key value: the two little-endian halves of one
    16-byte blake2b digest, h2 forced odd."""
    d = _digest(value)
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little") | 1


def _bloom_bits(values: list, m: int, k: int) -> "np.ndarray":
    """Packed bit array (LSB-first within each byte) with bit
    (h1 + i*h2) mod m set for every key and i < k. h1, h2 < 2**64 are
    reduced mod m first, so h1' + i*h2' < k*m fits uint64. Keys are
    hashed BUILD_CHUNK at a time, so the temporaries stay bounded
    whatever the file's size; only the m-entry hit array grows with it."""
    mm = np.uint64(m)
    probes = np.arange(k, dtype=np.uint64)
    hit = np.zeros(m, dtype=bool)
    for lo in range(0, len(values), BUILD_CHUNK):
        h = np.frombuffer(b"".join(map(_digest, values[lo:lo + BUILD_CHUNK])),
                          dtype="<u8").reshape(-1, 2)
        h1 = h[:, 0] % mm
        h2 = (h[:, 1] | np.uint64(1)) % mm
        hit[((h1[:, None] + probes * h2[:, None]) % mm).ravel()] = True
    return np.packbits(hit, bitorder="little")


def _bloom_dir(root: str) -> str:
    return os.path.join(root, "_bloom")


def _sidecar(root: str, relkey: str) -> str:
    # version-relative path, "/" escaped so the flat dir stays flat
    return os.path.join(_bloom_dir(root), relkey.replace(os.sep, "%2F") + ".bloom.json")


def _needs_build(path: str, column: str) -> bool:
    """A sidecar slot needs building for ``column`` when it is absent,
    corrupt, or holds a TOMBSTONE for a different column. A REAL bloom
    for a different column is left alone (build returns 0 for that
    file, matching the one-bloom-column-per-table design) — rebuilding
    it would make two maintenance paths with different columns thrash:
    each batch re-reading every file's keys and destroying the other
    path's pruning."""
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, json.JSONDecodeError, ValueError):
        return True
    if doc.get("column") == column:
        return False
    return bool(doc.get("skip"))  # foreign tombstone: replaceable


def _write_sidecar(out: str, doc: dict) -> None:
    import uuid

    tmp = out + f".tmp-{uuid.uuid4().hex[:12]}"  # pid can collide across hosts
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, out)


def _build_one_bloom(path: str, out: str, column: str) -> int:
    """Build one sidecar from one data file (pure function of its
    arguments — runs on the driver for small tables, inside an executor
    task for the distributed build). Returns 1 when a bloom was written,
    0 when the file is unbuildable (column absent or key type not
    bloom-safe) — then a tiny {"skip": true} TOMBSTONE sidecar is
    written instead, so build_file_blooms never re-lists the file: a
    table with a non-bloom-safe pk would otherwise re-open every footer
    (and re-schedule executor tasks) on every micro-batch forever."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(path).schema_arrow
    if column not in schema.names:
        _write_sidecar(out, {"column": column, "skip": True})
        return 0  # partition column / pre-DDL file: no data pages
    typ = schema.field(column).type
    if not (
        pa.types.is_integer(typ)
        or pa.types.is_string(typ)
        or pa.types.is_large_string(typ)
        or pa.types.is_binary(typ)
        or pa.types.is_large_binary(typ)
    ):
        # bloom_safe_key rationale: only int/str/bytes keys have
        # type-stable build/probe representations — everything else
        # stays on min/max-stat semantics
        _write_sidecar(out, {"column": column, "skip": True})
        return 0
    col = pq.read_table(path, columns=[column]).column(0)
    values = [v for v in col.to_pylist() if v is not None]
    n = max(len(values), 1)
    m = int(n * FPP_BITS_PER_KEY) + 8
    bits = _bloom_bits(values, m, NUM_HASHES)
    _write_sidecar(
        out,
        {"column": column, "m": m, "k": NUM_HASHES,
         "bits": base64.b64encode(bits.tobytes()).decode()},
    )
    return 1


def build_file_blooms(table, column: str, spark=None) -> int:
    """Create sidecars for every current-version data file that lacks
    one. Returns the number of sidecars written. Idempotent; safe to run
    after every commit or only from maintenance (optimize).

    With ``spark`` given, the per-file builds fan out as one executor
    task per file (the production shape: reading every key of every
    file through the driver serializes the maintenance job; executors
    write sidecars to the shared filesystem directly, and the uuid-
    suffixed temp + atomic rename keeps concurrent builders safe).
    Driver-side otherwise."""
    os.makedirs(_bloom_dir(table.root), exist_ok=True)
    todo: list[tuple[str, str]] = []
    for rel in table.snapshot().files:
        out = _sidecar(table.root, rel)
        if _needs_build(out, column):
            # a {"skip": true} tombstone for THIS column counts as
            # built, so unbuildable files (non-bloom-safe pk types) are
            # never re-listed batch after batch
            todo.append((table._abs(rel), out))
    if not todo:
        return 0
    if spark is not None and len(todo) > 1:
        sc = spark.sparkContext
        return sum(
            sc.parallelize(todo, len(todo)).map(
                lambda po: _build_one_bloom(po[0], po[1], column)
            ).collect()
        )
    return sum(_build_one_bloom(path, out, column) for path, out in todo)


def gc_blooms(table) -> int:
    """Unlink sidecars whose data file is no longer in the current
    version. Without this, every compaction (fresh uuid file set)
    orphans the previous sidecars and ``_bloom/`` grows without bound on
    write-heavy tables. Returns the number of sidecars removed. Safe
    against in-flight readers of the retained previous version: a
    missing sidecar only weakens pruning, never correctness."""
    bdir = _bloom_dir(table.root)
    if not os.path.isdir(bdir):
        return 0
    live: set[str] = set()
    for v in table.versions():
        for rel in table.snapshot(v).files:
            live.add(rel.replace("/", "%2F"))
    import time

    removed = 0
    stale_tmp = time.time() - 3600
    for name in os.listdir(bdir):
        path = os.path.join(bdir, name)
        # tolerate races: a concurrent builder's os.replace (or a second
        # GC) can delete the path between listdir and the stat/remove —
        # a raced entry must not abort the compaction that called us
        try:
            if name.endswith(".bloom.json") \
                    and name[: -len(".bloom.json")] not in live:
                os.remove(path)
                removed += 1
            elif ".bloom.json.tmp-" in name and os.path.getmtime(path) < stale_tmp:
                # a builder killed between open() and os.replace() leaves
                # its temp behind; reclaim after a safety window
                os.remove(path)
                removed += 1
        except FileNotFoundError:
            continue
    return removed


def load_bloom(root: str, relkey: str, column: str):
    """(m, k, bits ndarray) or None when absent/for a different column.
    ``relkey`` is the file's version-relative path (e.g.
    ``p=a/part-00000-<uuid>.parquet``; bare basename for unpartitioned
    tables)."""
    path = _sidecar(root, relkey)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    if spec.get("column") != column or spec.get("skip"):
        return None  # different column, or an unbuildable-file tombstone
    bits = np.frombuffer(base64.b64decode(spec["bits"]), dtype=np.uint8)
    return spec["m"], spec["k"], bits


def might_contain_any(bloom, keys) -> bool:
    """True unless the bloom PROVES none of ``keys`` is in the file.
    No false negatives: a True may be spurious (~FPP per key), a False
    is definitive. Keys outside the type-enforced domain (bloom_safe_key)
    make no claim at all — True, never a spurious proof of absence."""
    m, k, bits = bloom
    if any(not bloom_safe_key(v) for v in keys):
        return True
    for v in keys:
        h1, h2 = _hashes(v)
        for i in range(k):
            b = (h1 + i * h2) % m
            if not (bits[b >> 3] >> (b & 7)) & 1:
                break
        else:
            return True
    return False


def prune_files(table, column: str, keys) -> list[str] | None:
    """Current-version data files that might hold any of ``keys`` in
    ``column``, by footer min/max refined with Bloom sidecars — no data
    pages read. None when pruning can't prove anything for some file
    (missing/unorderable stats AND no bloom): callers must then scan
    normally. An empty list is a proof that NO file holds any key."""
    import bisect

    from synch_spark.sources.manifest import load_manifest
    from synch_spark.sources.table import file_key_range

    try:
        sk = sorted(keys)
    except TypeError:
        # mixed-type keys don't order: same contract as the bisect
        # fallback below — degrade to "can't prove anything" (full scan)
        return None
    if not sk or any(k is None for k in sk):
        return None
    out: list[str] = []
    manifest = load_manifest(table, column) or {}
    for rel in table.snapshot().files:
        path = table._abs(rel)
        bl = load_bloom(table.root, rel, column)
        if rel in manifest:
            rng = manifest[rel]
        else:
            try:
                rng = file_key_range(path, column)
            except Exception:  # unreadable footer: treat as statless
                rng = None
        if rng is None:
            if bl is None:
                return None  # this file is unprovable either way
            if might_contain_any(bl, sk):
                out.append(path)
            continue
        try:
            i = bisect.bisect_left(sk, rng[0])
            j = bisect.bisect_right(sk, rng[1])
        except TypeError:
            return None  # stats don't order against the key type
        if j <= i:
            continue  # outside every key: range alone proves absence
        if bl is not None and not might_contain_any(bl, sk[i:j]):
            continue  # bloom proves absence despite range overlap
        out.append(path)
    return out


def point_lookup(table, column: str, keys) -> "object":
    """Read only the files that might contain ``keys`` (stats+bloom
    pruned), then apply the exact filter. The 100 TB needle path: a
    pk-clustered + bloomed table answers a handful-of-keys lookup by
    opening a handful of files instead of scanning the table. Falls
    back to a full-scan filter when pruning can't prove coverage."""
    from pyspark.sql import functions as F

    current = table.read()
    keys = list(keys)  # materialize ONCE: a generator would be exhausted
    # by the prune call and the exact filter below would see [] — every
    # lookup silently empty
    files = prune_files(table, column, keys)
    flt = F.col(column).isin(keys)
    if files is None:
        return current.filter(flt)
    if not files:
        return current.limit(0)
    # read_files applies the table's schema reconciliation (metadata-only
    # DDL): a raw parquet read of pre-rename files would surface physical
    # names and the logical-column select/filter would fail
    return table.read_files(files).select(*current.columns).filter(flt)
