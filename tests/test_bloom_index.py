"""Per-file Bloom index: membership pruning beyond footer min/max."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from synch_spark.config import Engine, TableSpec
from synch_spark.operators.cdc_apply import apply_cdc_batch, compact_table
from synch_spark.sources import bloom
from synch_spark.sources.table import ParquetTable


@pytest.fixture(scope="module")
def spark():
    from synch_spark.session import get_spark

    return get_spark("test-bloom", cpus=8)


def _rels(t, part=None):
    """Pool-relative data files of the current version (optionally one
    partition). Pool files are immutable and never move: path identity
    IS file identity across versions."""
    return sorted(
        r for r in t.snapshot().files
        if part is None or r.startswith(f"{part}/")
    )


def test_bloom_membership_no_false_negatives(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(1000).select(F.col("id").alias("k"),
                                         (F.col("id") * 2).alias("v")))
    assert bloom.build_file_blooms(t, "k") >= 1
    hits = misses = 0
    for rel in _rels(t):
        bl = bloom.load_bloom(t.root, rel, "k")
        assert bl is not None
        import pyarrow.parquet as pq

        present = pq.read_table(t._abs(rel), columns=["k"])
        present = present.column(0).to_pylist()
        # every present key must probe True (no false negatives)
        assert bloom.might_contain_any(bl, [present[0]])
        assert bloom.might_contain_any(bl, [present[-1]])
        # absent keys: mostly False (fpp ~1%; 50 probes, allow a few)
        for probe in range(5000, 5050):
            if bloom.might_contain_any(bl, [probe]):
                hits += 1
            else:
                misses += 1
    assert misses > hits * 5  # overwhelmingly pruned


def test_bloom_wrong_column_and_missing_sidecar(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t2"))
    t.overwrite(spark.range(10).select(F.col("id").alias("k")))
    assert bloom.load_bloom(t.root, "nonexistent.parquet", "k") is None
    bloom.build_file_blooms(t, "k")
    name = _rels(t)[0]
    assert bloom.load_bloom(t.root, name, "other_col") is None


def _events(spark, rows):
    # (action, k, part, v, us)
    return spark.createDataFrame(
        rows, "action string, k long, p string, v double, event_unixtime long"
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("t"))


@pytest.mark.slow
def test_interleaved_files_pruned_by_bloom_not_minmax(spark, tmp_path):
    """Two files in one partition with fully OVERLAPPING key ranges
    (evens vs odds): min/max cannot prune either, but the bloom proves
    the odd file holds no touched (even) key — after the merge the odd
    file must be CARRIED in the manifest (same pool file), not
    rewritten, and the table content must be exactly the merged state."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = ParquetTable(spark, str(tmp_path / "t3"))
    evens = [(k, "a", float(k)) for k in range(0, 200, 2)]
    odds = [(k, "a", float(k)) for k in range(1, 200, 2)]
    df_e = spark.createDataFrame(evens, "k long, p string, v double").coalesce(1)
    df_o = spark.createDataFrame(odds, "k long, p string, v double").coalesce(1)
    t.overwrite(df_e, "p")
    t.append(df_o, "p")
    bloom.build_file_blooms(t, "k")
    before = _rels(t, "p=a")
    assert len(before) == 2
    # touch two EVEN keys only
    batch = _events(spark, [("insert", 0, "a", 100.0, 10),
                            ("delete", 2, "a", 2.0, 11)])
    apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
    after = _rels(t, "p=a")
    carried = set(before) & set(after)
    assert carried, "odd-keys file should be carried, not rewritten"
    # and the merged content is right
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[0] == 100.0 and 2 not in got and got[3] == 3.0
    assert len(got) == 199  # 100 evens + 100 odds - 1 delete


def test_merge_without_blooms_unchanged(spark, tmp_path):
    """No sidecars: behavior identical to pure min/max classification."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = ParquetTable(spark, str(tmp_path / "t4"))
    t.overwrite(spark.createDataFrame(
        [(k, "a", float(k)) for k in range(50)], "k long, p string, v double"
    ), "p")
    batch = _events(spark, [("insert", 7, "a", 70.0, 10)])
    apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[7] == 70.0 and len(got) == 50


def test_compact_table_builds_blooms(spark, tmp_path):
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "t5"))
    t.overwrite(spark.createDataFrame(
        [(k, float(k), 1, 0) for k in range(20)],
        "k long, v double, _version long, _event_unixtime long",
    ))
    compact_table(t, spec)
    rels = _rels(t)
    assert rels
    assert all(bloom.load_bloom(t.root, r, "k") is not None for r in rels)


def test_point_lookup_prunes_and_matches(spark, tmp_path):
    """Pruned lookup returns exactly the full-scan filter's rows while
    provably opening fewer files; keys absent everywhere prune to an
    empty (schema-stable) result."""
    from synch_spark.sources.bloom import point_lookup, prune_files

    t = ParquetTable(spark, str(tmp_path / "t6"))
    # 4 range-disjoint files (explicit repartition: AQE would coalesce
    # a write this tiny into one file, defeating the pruning assertion)
    df = (
        spark.range(400)
        .select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    t.overwrite(df)
    bloom.build_file_blooms(t, "k")
    n_files = len(_rels(t))
    keys = [5, 7]
    files = prune_files(t, "k", keys)
    assert files is not None and 0 < len(files) < n_files
    got = {r["k"]: r["v"] for r in point_lookup(t, "k", keys).collect()}
    want = {r["k"]: r["v"] for r in t.read().filter(F.col("k").isin(keys)).collect()}
    assert got == want == {5: 15, 7: 21}
    # absent keys: empty proof, schema preserved
    empty = point_lookup(t, "k", [100000, 100001])
    assert empty.columns == t.read().columns
    assert empty.count() == 0


def test_point_lookup_falls_back_without_proof(spark, tmp_path):
    """String-keyed table without blooms still answers correctly via the
    full-scan fallback path (and after blooms exist, prunes)."""
    from synch_spark.sources.bloom import point_lookup

    t = ParquetTable(spark, str(tmp_path / "t7"))
    t.overwrite(spark.createDataFrame(
        [(f"k{i}", i) for i in range(50)], "k string, v long"
    ))
    got = {r["k"]: r["v"] for r in point_lookup(t, "k", ["k7", "k9"]).collect()}
    assert got == {"k7": 7, "k9": 9}
    bloom.build_file_blooms(t, "k")
    got2 = {r["k"]: r["v"] for r in point_lookup(t, "k", ["k7", "k9"]).collect()}
    assert got2 == got


def test_bloom_type_gating(spark, tmp_path):
    """Blooms are type-enforced to int/str/bytes keys: unsafe key types
    (timestamp/decimal/float) get a SKIP TOMBSTONE (no bloom) at build
    time, and a probe with an unsafe key makes no absence claim — the
    tz-aware-vs-naive datetime divergence can therefore never turn into
    a silent false negative (= lost update in the CoW merge)."""
    t = ParquetTable(spark, str(tmp_path / "tt"))
    t.overwrite(
        spark.range(20).select(
            F.col("id").alias("k"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            (F.col("id") / 2.0).alias("f"),
            F.col("id").cast("decimal(10,2)").alias("d"),
        )
    )
    name = _rels(t)[0]
    # unsafe columns: tombstone, no bloom
    for col in ("ts", "f", "d"):
        assert bloom.build_file_blooms(t, col) == 0
        assert bloom.load_bloom(t.root, name, col) is None
    # safe column builds; an unsafe PROBE key disables the absence claim
    assert bloom.build_file_blooms(t, "k") >= 1
    bl = bloom.load_bloom(t.root, name, "k")
    import datetime

    assert bloom.might_contain_any(bl, [datetime.datetime(2020, 1, 1)])
    assert bloom.might_contain_any(bl, [1.5])
    assert not bloom.might_contain_any(bl, [999999])  # safe key still prunes
    assert not bloom.bloom_safe_key(True)  # bools stringify as True/False


def test_unbuildable_files_not_relisted(spark, tmp_path):
    """A non-bloom-safe pk (float) writes skip tombstones on the first
    build, so per-batch maintenance stops re-opening every footer on
    every micro-batch (the O(files) metadata storm the manifest log
    exists to avoid)."""
    t = ParquetTable(spark, str(tmp_path / "tu"))
    t.overwrite(spark.range(30).select((F.col("id") / 2.0).alias("f"),
                                       F.col("id").alias("v")))
    assert bloom.build_file_blooms(t, "f") == 0  # tombstones written
    calls = []
    orig = bloom._build_one_bloom
    try:
        bloom._build_one_bloom = lambda *a: calls.append(a) or orig(*a)
        assert bloom.build_file_blooms(t, "f") == 0
        assert not calls, "tombstoned files must not be re-listed"
    finally:
        bloom._build_one_bloom = orig


def test_bloom_skips_partition_column(spark, tmp_path):
    """A leading pk that is ALSO the partition column is absent from the
    data files; the builder must skip those files instead of crashing
    compact_table (pq.read_table would raise)."""
    t = ParquetTable(spark, str(tmp_path / "tp"))
    t.overwrite(
        spark.range(20).select(F.col("id").alias("p"), F.col("id").alias("v")),
        partition_by="p",
    )
    assert bloom.build_file_blooms(t, "p") == 0  # no crash, no blooms
    spec = TableSpec(schema="db", table="t", pk=("p",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    compact_table(t, spec)  # full path incl. _refresh_blooms: must not raise
    assert t.read().count() == 20


def test_bloom_sidecar_gc(spark, tmp_path):
    """Compaction rewrites the file set (fresh uuids); orphaned sidecars
    must be unlinked, live ones kept."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "tg"))
    t.overwrite(spark.range(100).select(F.col("id").alias("k"),
                                        (F.col("id") * 2).alias("v")))
    bloom.build_file_blooms(t, "k")
    bdir = os.path.join(t.root, "_bloom")
    before = set(os.listdir(bdir))
    assert before
    compact_table(t, spec)  # rewrites files; gc + rebuild sidecars
    after = set(os.listdir(bdir))
    live = {r.replace("/", "%2F") for v in t.versions() for r in t.snapshot(v).files}
    assert {n[: -len(".bloom.json")] for n in after} == live
    # the pre-compaction generation is still retained as version v-1
    # (readable by in-flight readers), so its sidecars must SURVIVE this
    # gc; one more commit expires it, then they must be gone
    assert before & after
    compact_table(t, spec)
    final = set(os.listdir(bdir))
    assert not (before & final), "expired-generation sidecars must be gone"


def test_bloom_keys_are_partition_scoped(spark, tmp_path):
    """One task writing a partitioned table emits the SAME part-file
    basename into every partition dir. Basename-keyed sidecars would let
    partition a's bloom prove false absence for partition b's file and
    carry away a genuinely-changed file (lost update). With
    partition-scoped keys, a delete of a key that lives only in p=b must
    actually remove the row."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = ParquetTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(k, "a", float(k)) for k in range(100)]
        + [(k, "b", float(k)) for k in range(100, 200)],
        "k long, p string, v double",
    ).repartition(1)  # one task -> identical basenames across partitions
    t.overwrite(df, "p")
    names_a = {r.split("/")[-1] for r in _rels(t, "p=a")}
    names_b = {r.split("/")[-1] for r in _rels(t, "p=b")}
    assert names_a == names_b, "precondition: basenames collide across partitions"
    assert bloom.build_file_blooms(t, "k") == 2, "one sidecar PER FILE, not per basename"
    # delete a key that exists ONLY in p=b
    batch = _events(spark, [("delete", 150, "b", 150.0, 10)])
    apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
    got = {r["k"] for r in t.read().collect()}
    assert 150 not in got, "lost update: stale row survived a basename-collided bloom"
    assert len(got) == 199


def test_distributed_bloom_build_matches_driver_build(spark, tmp_path):
    """Executor-side fan-out build writes byte-identical sidecars to the
    driver-side loop (same pure function), and pruning behaves the same."""
    t1 = ParquetTable(spark, str(tmp_path / "d1"))
    t2 = ParquetTable(spark, str(tmp_path / "d2"))
    df = spark.range(2000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t1.overwrite(df.repartition(6))
    t2.overwrite(df.repartition(6))
    n1 = bloom.build_file_blooms(t1, "k")
    n2 = bloom.build_file_blooms(t2, "k", spark=spark)
    assert n1 == n2 == 6

    def _sidecars(t):
        bdir = os.path.join(t.root, "_bloom")
        out = []
        for f in os.listdir(bdir):
            with open(os.path.join(bdir, f), "rb") as fh:
                out.append(fh.read())
        return sorted(out)

    # same file layout (same repartition of same data) -> the same
    # sidecar documents, byte for byte (file names differ per table)
    assert _sidecars(t1) == _sidecars(t2)
    # probe parity on a sample of present/absent keys
    for a, b in zip(_rels(t1), _rels(t2)):
        bl1 = bloom.load_bloom(t1.root, a, "k")
        bl2 = bloom.load_bloom(t2.root, b, "k")
        for probe in (0, 999, 1999, 5000, 12345):
            assert bloom.might_contain_any(bl1, [probe]) == \
                   bloom.might_contain_any(bl2, [probe])


def _scalar_reference_bits(values, m, k):
    """The bloom's on-disk bit layout, one probe at a time: bit
    (h1 + i*h2) mod m, LSB-first within each byte, with h1/h2 the
    little-endian halves of blake2b-128 over the type-tagged key."""
    import hashlib

    bits = bytearray((m + 7) // 8)
    for v in values:
        if isinstance(v, bytes):
            raw = b"b:" + v
        elif isinstance(v, int):
            raw = b"i:" + str(v).encode()
        else:
            raw = b"s:" + v.encode()
        d = hashlib.blake2b(raw, digest_size=16).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:], "little") | 1
        for i in range(k):
            b = (h1 + i * h2) % m
            bits[b >> 3] |= 1 << (b & 7)
    return bytes(bits)


#: key columns for the bloom build: (values, pyarrow type name)
_KEY_COLUMNS = {
    "int": ([-(2**63), -(2**63) + 1, -1, 0, 1, 2**62, 2**63 - 2, 2**63 - 1]
            + list(range(-500, 500, 7)), "int64"),
    "str": ([f"key-{i}" for i in range(300)] + ["", "ü€"], "string"),
    "bytes": ([bytes([i % 256, i // 256]) for i in range(300)] + [b""],
              "binary"),
    "empty": ([], "int64"),
    "all_null": ([None, None, None], "string"),
    "single": ([42], "int32"),
}


@pytest.mark.parametrize("chunk", [7, bloom.BUILD_CHUNK])
@pytest.mark.parametrize("name", sorted(_KEY_COLUMNS))
def test_vectorized_bloom_build_matches_scalar_reference(tmp_path, monkeypatch,
                                                         name, chunk):
    """_build_one_bloom's NumPy bit-setting writes exactly the bits of
    the scalar (h1 + i*h2) % m loop: sidecars stay byte-compatible with
    blooms built before it, and the probe side reads them unchanged.
    A 7-key chunk splits every multi-key column into several hashing
    passes with a ragged last one."""
    import base64
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(bloom, "BUILD_CHUNK", chunk)
    keys, typ = _KEY_COLUMNS[name]
    col = pa.array(keys, getattr(pa, typ)())
    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(pa.table({"k": col, "v": pa.array(range(len(col)))}), path)
    out = str(tmp_path / f"{name}.bloom.json")
    assert bloom._build_one_bloom(path, out, "k") == 1
    with open(out) as f:
        doc = json.load(f)
    values = [v for v in col.to_pylist() if v is not None]
    m = max(len(values), 1) * bloom.FPP_BITS_PER_KEY + 8
    assert (doc["column"], doc["m"], doc["k"]) == ("k", m, bloom.NUM_HASHES)
    bits = base64.b64decode(doc["bits"])
    assert bits == _scalar_reference_bits(values, m, bloom.NUM_HASHES)
    bl = (doc["m"], doc["k"], np.frombuffer(bits, dtype=np.uint8))
    assert all(bloom.might_contain_any(bl, [v]) for v in values)


@pytest.mark.slow
def test_string_pk_files_pruned_by_bloom_alone(spark, tmp_path):
    """String pks have no exact min/max stats (BYTE_ARRAY may truncate),
    so the bloom is the only pruning lever — a merge touching keys in
    one file must carry the other file instead of rewriting both."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = ParquetTable(spark, str(tmp_path / "ts"))
    g1 = [(f"key_a{i:04d}", "a", float(i)) for i in range(100)]
    g2 = [(f"key_b{i:04d}", "a", float(i)) for i in range(100)]
    t.overwrite(spark.createDataFrame(g1, "k string, p string, v double").coalesce(1), "p")
    t.append(spark.createDataFrame(g2, "k string, p string, v double").coalesce(1), "p")
    bloom.build_file_blooms(t, "k")
    before = _rels(t, "p=a")
    assert len(before) == 2
    batch = spark.createDataFrame(
        [("insert", "key_a0001", "a", 99.0, 10)],
        "action string, k string, p string, v double, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)).withColumn("schema", F.lit("db")) \
     .withColumn("table", F.lit("t"))
    apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
    after = _rels(t, "p=a")
    carried = set(before) & set(after)
    assert carried, "the untouched key_b file must be carried"
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got["key_a0001"] == 99.0 and len(got) == 200


@pytest.mark.slow
def test_consecutive_merges_bounded_rewrites(spark, tmp_path):
    """Five consecutive micro-batches, each touching 2 keys in a narrow
    range of a pk-clustered + bloomed table: every merge must rewrite a
    BOUNDED number of files (the touched candidates + the batch's new
    file), never re-rewrite the whole accumulated file set — the
    rewrite-amplification guarantee the per-batch bloom maintenance
    exists for."""
    spec = TableSpec(schema="db", table="t", pk=("k",),
                     engine=Engine.REPLACING_MERGE_TREE, partition_by="p")
    t = ParquetTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(k, "a", float(k)) for k in range(4000)], "k long, p string, v double"
    )
    t.overwrite(df, "p", cluster_by=("k",))
    bloom.build_file_blooms(t, "k")

    for b in range(5):
        before = set(_rels(t))
        lo = b * 700
        batch = _events(spark, [("insert", lo, "a", -1.0, 100 + b),
                                ("insert", lo + 1, "a", -2.0, 100 + b)])
        apply_cdc_batch(t, batch, spec, value_columns=["k", "p", "v"])
        # per-batch maintenance (what CdcPipeline does for partitioned specs)
        bloom.build_file_blooms(t, "k")
        after = set(_rels(t))
        fresh = after - before
        # bound: the touched candidate file(s) get rewritten and the
        # merge writes its own new file(s) — but the untouched bulk of
        # an ever-growing file set must carry through untouched
        assert len(fresh) <= 4, f"batch {b}: rewrote {len(fresh)} files: {sorted(fresh)}"
        carried = len(before & after)
        assert carried >= len(before) - 2, f"batch {b}: too few carried files"
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 4000 and got[0] == -1.0 and got[2801] == -2.0


def test_bloom_second_column_does_not_thrash(spark, tmp_path):
    """A real bloom for the table's pk must SURVIVE a build request for
    a different column (one-bloom-column-per-table): otherwise two
    maintenance paths would re-read every file's keys each batch and
    destroy each other's pruning."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(50).select(F.col("id").alias("k"),
                                       (F.col("id") * 2).alias("v")))
    assert bloom.build_file_blooms(t, "k") >= 1
    rel = _rels(t)[0]
    before = bloom.load_bloom(t.root, rel, "k")
    assert before is not None
    # a second column's build neither rebuilds nor destroys k's bloom
    assert bloom.build_file_blooms(t, "v") == 0
    after = bloom.load_bloom(t.root, rel, "k")
    assert after is not None and after[0] == before[0]

def test_bloom_accepts_bytearray_probe_keys(spark, tmp_path):
    """Spark collect() returns BinaryType as bytearray while the build
    side yields bytes; rejecting bytearray made binary-pk blooms build
    and then never prune a single merge."""
    from synch_spark.sources.bloom import (
        bloom_safe_key, _hashes, build_file_blooms, load_bloom,
        might_contain_any)
    from synch_spark.sources.table import ParquetTable
    from pyspark.sql import functions as F

    assert bloom_safe_key(bytearray(b"k1"))
    assert _hashes(bytearray(b"k1")) == _hashes(b"k1")

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(50).select(
        F.encode(F.concat(F.lit("k"), F.col("id").cast("string")), "utf-8")
        .alias("bk"),
        F.col("id").alias("v")).coalesce(1))  # one file holds every key
    assert build_file_blooms(t, "bk", spark=spark) >= 1
    rel = next(iter(t.snapshot().files))
    bl = load_bloom(t.root, rel, "bk")
    assert bl is not None
    # probe with the COLLECT-side representation
    assert might_contain_any(bl, [bytearray(b"k7")])
    assert not might_contain_any(bl, [bytearray(b"nope-xyz")])


def test_prune_files_mixed_type_keys_degrade_to_none(spark, tmp_path):
    from synch_spark.sources.bloom import prune_files
    from synch_spark.sources.table import ParquetTable
    from pyspark.sql import functions as F

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(10).select(F.col("id").alias("k")))
    assert prune_files(t, "k", [1, "2"]) is None  # unorderable: full scan
