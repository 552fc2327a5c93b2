"""Per-part key indexes (plans/keyindex.py): sidecar format roundtrip,
probe semantics (may-match only — absence/ranges/other columns never
prune), point-lookup decode equality on unclustered columns, compaction
sidecar merge, and the encode-time type gate."""

import os

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from fileconvert_spark.plans import keyindex as ki
from fileconvert_spark.plans.manifest import (
    decode_table, encode_table, normalize_predicate)


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**64 - 1),
               max_size=500))
def test_index_bytes_roundtrip_property(hashes):
    blob = ki.index_bytes(hashes)
    back = ki.load_index(blob)
    assert sorted(hashes) == back.tolist()


def test_value_hash_types():
    assert ki.value_hash("abc") == ki.value_hash("abc")
    assert ki.value_hash(42) == ki.value_hash(np.int64(42))
    # ints hash via splitmix64 over int64 bits, strings via blake2b over
    # utf-8: the schemes are independent because probes are canonicalized
    # under the COLUMN's type first (probe_hashes) — a canonical string
    # int probe against an int column converts to int before hashing
    assert ki.probe_hashes(["42"], "int")[0] == ki.value_hash(42)
    with pytest.raises(TypeError):
        ki.value_hash(1.5)


def test_part_may_match_semantics(tmp_path):
    out = str(tmp_path)
    ki.write_part_index(out, 7, "path", {ki.value_hash("a/b.py"),
                                         ki.value_hash("c/d.py")})

    def probe(p):
        return ki.part_may_match(normalize_predicate(p), out, 7, {"path"},
                                 {"path": "string"})

    assert probe(("path", "=", "a/b.py"))
    assert not probe(("path", "=", "nope.py"))
    assert probe(("path", "in", ["nope.py", "c/d.py"]))
    assert not probe(("path", "in", ["x", "y"]))
    # ranges and other columns can never refute
    assert probe(("path", "<=", "a"))
    assert probe(("other", "=", "whatever"))
    # AND refuted by one impossible branch; OR needs all impossible
    assert not probe([("path", "=", "nope.py"), ("other", "=", "x")])
    assert probe(("or", [("path", "=", "nope.py"),
                         ("path", "=", "a/b.py")]))
    assert not probe(("or", [("path", "=", "nope.py"),
                             ("path", "=", "also-nope")]))
    # missing sidecar (unknown part) keeps the part
    assert ki.part_may_match(
        normalize_predicate(("path", "=", "nope.py")), out, 99, {"path"},
        {"path": "string"})
    # float probe on an indexed column cannot refute
    assert probe(("path", "=", 1.5))
    # cross-type probe (int against a string column) cannot refute:
    # Catalyst casts the COLUMN, so '0123' would match int 123
    assert probe(("path", "=", 123))


def test_probe_hashes_typed_canonicalization(tmp_path):
    """Review finding (r7): type-mismatched probes must never refute.
    int column: canonical-string probes refute, non-canonical keep."""
    out = str(tmp_path)
    ki.write_part_index(out, 1, "doc_id", {ki.value_hash(123)})

    def probe(p):
        return ki.part_may_match(normalize_predicate(p), out, 1,
                                 {"doc_id"}, {"doc_id": "int"})

    assert probe(("doc_id", "=", 123))
    assert not probe(("doc_id", "=", 124))
    assert probe(("doc_id", "=", "123"))       # canonical string form
    assert not probe(("doc_id", "=", "124"))
    # NON-canonical string int: Catalyst's cast would match 123, so the
    # index must keep the part, never prune on the raw-bytes hash
    assert probe(("doc_id", "=", "0123"))
    assert probe(("doc_id", "=", " 123"))
    assert probe(("doc_id", "=", True))        # bool never refutes
    assert probe(("doc_id", "=", 1.5))
    # unknown column type -> never refute
    assert ki.part_may_match(
        normalize_predicate(("doc_id", "=", 124)), out, 1, {"doc_id"},
        {"doc_id": "double"})
    # negative canonical form
    ki.write_part_index(out, 2, "n", {ki.value_hash(-5)})
    assert ki.part_may_match(
        normalize_predicate(("n", "=", "-5")), out, 2, {"n"},
        {"n": "int"})


def test_empty_index_refutes_equality(tmp_path):
    out = str(tmp_path)
    ki.write_part_index(out, 3, "k", set())
    assert not ki.part_may_match(
        normalize_predicate(("k", "=", "x")), out, 3, {"k"},
        {"k": "string"})


@pytest.fixture(scope="module")
def indexed_table(spark, tmp_path_factory):
    from fileconvert_spark.corpus import make_codefiles

    out = str(tmp_path_factory.mktemp("ki") / "enc")
    df = spark.createDataFrame(make_codefiles(4000))
    encode_table(spark, df, out, n_buckets=16,
                 key_index_cols=("path", "commit"))
    return out, df


def test_point_lookup_decode_equality(spark, indexed_table):
    from pyspark.sql import functions as F

    out, df = indexed_table
    assert len(os.listdir(os.path.join(out, "indexes"))) == 32
    pv = df.select("path").collect()[1234][0]
    got = decode_table(spark, out, predicate=("path", "=", pv)).count()
    want = df.filter(F.col("path") == pv).count()
    assert got == want > 0
    assert decode_table(spark, out,
                        predicate=("path", "=", "no/such.xyz")).count() == 0
    got_in = decode_table(spark, out,
                          predicate=("path", "in", [pv, "nope"])).count()
    assert got_in == want


def test_compaction_merges_sidecars(spark, indexed_table, tmp_path):
    import shutil

    from fileconvert_spark.plans.compact import compact_table
    from pyspark.sql import functions as F

    src_dir, df = indexed_table
    out = str(tmp_path / "enc")
    shutil.copytree(src_dir, out)
    res = compact_table(spark, out, target_bytes=1 << 20)
    assert not res["noop"]
    names = os.listdir(os.path.join(out, "indexes"))
    # exactly the surviving parts' sidecars remain (2 cols per part)
    assert len(names) == 2 * res["n_parts_after"]
    pv = df.select("path").collect()[99][0]
    got = decode_table(spark, out, predicate=("path", "=", pv)).count()
    assert got == df.filter(F.col("path") == pv).count() > 0
    assert decode_table(spark, out,
                        predicate=("path", "=", "no/such.xyz")).count() == 0


def test_key_index_type_gate(spark, tmp_path):
    df = spark.createDataFrame([(1.5, "a")], "x double, y string")
    with pytest.raises(ValueError, match="only"):
        encode_table(spark, df, str(tmp_path / "e"), n_buckets=2,
                     key_col="y", salt_cols=("y",), weight_col="y",
                     key_index_cols=("x",))
    with pytest.raises(ValueError, match="no column"):
        encode_table(spark, df, str(tmp_path / "e2"), n_buckets=2,
                     key_col="y", salt_cols=("y",), weight_col="y",
                     key_index_cols=("zz",))


def test_resume_keeps_pinned_index_cols(spark, tmp_path):
    """key_index_cols is table identity: a resume re-derives it from
    _meta.json, so resumed parts carry the same sidecars."""
    import json

    from fileconvert_spark.corpus import make_codefiles
    from fileconvert_spark.plans import fsio

    out = str(tmp_path / "enc")
    df = spark.createDataFrame(make_codefiles(1000))
    encode_table(spark, df, out, n_buckets=4, key_index_cols=("path",))
    # drop one part + its manifest and sidecar, then resume
    os.remove(os.path.join(out, "data", "part-00001.parquet"))
    os.remove(os.path.join(out, "manifests", "part-00001.json"))
    os.remove(os.path.join(out, "indexes", "part-00001.path.idx"))
    from fileconvert_spark.plans.manifest import invalidate_manifest_list

    invalidate_manifest_list(out)
    s = encode_table(spark, df, out, n_buckets=4)  # resume path
    assert s["parts_skipped_resume"] == 3
    assert fsio.exists(os.path.join(out, "indexes", "part-00001.path.idx"))
    meta = json.loads(fsio.read_bytes(os.path.join(out, "_meta.json")))
    assert meta["key_index_cols"] == ["path"]


def test_decode_reads_table_metadata_once(spark, tmp_path, monkeypatch):
    """A predicate decode of a key-indexed, clustered table reads each of
    _meta.json, _schema.json and _manifest_list.json at most once on the
    driver (format check, pruning warnings, key-index planning and task
    grouping share one load)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from fileconvert_spark.corpus import make_codefiles
    from fileconvert_spark.plans import fsio

    out = str(tmp_path / "enc")
    df = spark.createDataFrame(make_codefiles(1000))
    encode_table(spark, df, out, n_buckets=4, cluster_by=("repo",),
                 key_index_cols=("path",))
    assert fsio.exists(os.path.join(out, "_manifest_list.json"))
    key = df.select("path").collect()[123][0]

    reads: Counter = Counter()
    real = fsio.read_bytes

    def counting(path):
        reads[os.path.basename(path)] += 1
        return real(path)

    monkeypatch.setattr(fsio, "read_bytes", counting)
    got = decode_table(spark, out, predicate=("path", "=", key)).count()
    assert got == df.filter(F.col("path") == key).count() > 0
    for name in ("_meta.json", "_schema.json", "_manifest_list.json"):
        assert reads[name] <= 1, (name, dict(reads))
