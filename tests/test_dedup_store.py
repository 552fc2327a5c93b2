"""Content-addressed dedup store (plans/dedup_store.py): hybrid
inline/blob split encode (blobs only for contents seen >= 2 times),
global exact-content dedup, join-back decode, the no-content fast
path, sha pushdown into blob part pruning, resume."""

import os
import shutil

import pytest

from fileconvert_spark.plans import dedup_store as DS
from fileconvert_spark.plans.manifest import encode_table

WORK = "/tmp/fcs_test_dedup_store"


def _rows(df, order_cols=("repo", "path", "commit")):
    return sorted((r.asDict() for r in df.collect()),
                  key=lambda d: tuple(d[c] or "" for c in order_cols))


def _vendored_rows(n_blobs=120, copies=8):
    """The regime the store exists for: DISTINCTIVE content (high-entropy
    lines, no template sharing with neighbors) duplicated across many
    repos — vendored dependencies / minified assets. The chunk-local
    line dictionary cannot deduplicate these across parts; the store
    can."""
    import hashlib
    rows = []
    for b in range(n_blobs):
        lines = [hashlib.sha256(f"blob{b}line{i}".encode()).hexdigest()
                 for i in range(40)]
        content = "\n".join(lines)
        for c in range(copies):
            rows.append((f"org{c % 13}/vend{c}", f"vendor/blob{b}/f{c}.js",
                         hashlib.sha1(f"{b}.{c}".encode()).hexdigest(),
                         "js", content))
    return rows


@pytest.fixture(scope="module")
def src(spark, corpus_df):
    # a NULL-content row must round-trip as NULL (distinct from "")
    extra = spark.createDataFrame(
        [("org0/nullc", "x/n.py", "c" * 40, "py", None)]
        + _vendored_rows(), schema=corpus_df.schema)
    return corpus_df.unionAll(extra)


@pytest.fixture(scope="module")
def store(spark, src):
    out = os.path.join(WORK, "store")
    shutil.rmtree(out, ignore_errors=True)
    summary = DS.encode_table_dedup(spark, src, out, n_buckets=16)
    return out, src, summary


def test_dedup_actually_dedups(spark, store):
    _, src, s = store
    n = src.count()
    assert s["n_rows"] == n
    # hybrid split: blobs = distinct contents occurring >= 2 times,
    # ref rows = every row carrying one of those contents
    from pyspark.sql import functions as F
    dup = (src.where(F.col("content").isNotNull())
           .groupBy("content").count().where("count >= 2")
           .agg(F.count("*").alias("n_blobs"),
                F.sum("count").alias("ref_rows")).first())
    assert s["n_blobs"] == dup["n_blobs"]
    assert s["ref_rows"] == dup["ref_rows"]
    # corpus has ~10% duplicated contents + a 100-row identical run
    assert s["ref_rows"] > 100
    assert s["n_blobs"] < s["ref_rows"]  # every blob referenced >= 2x
    assert s["dup_rows_removed"] == s["ref_rows"] - s["n_blobs"]
    assert s["blob_content_bytes"] < s["content_bytes"]
    assert s["enc_bytes"] == (s["refs"]["enc_bytes"]
                              + s["blobs"]["enc_bytes"])


def test_roundtrip_bit_identical(spark, store):
    out, src, _ = store
    dec = DS.decode_table_dedup(spark, out)
    assert dec.columns == src.columns
    assert _rows(dec) == _rows(src)


def test_beats_plain_encode_on_dup_corpus(spark, store):
    out, src, s = store
    plain_dir = os.path.join(WORK, "plain")
    shutil.rmtree(plain_dir, ignore_errors=True)
    plain = encode_table(spark, src, plain_dir, n_buckets=16)
    # same corpus, same codecs: removing global dups must shrink output
    assert s["enc_bytes"] < plain["enc_bytes"]


def test_no_content_projection_skips_blob_store(spark, store):
    out, src, _ = store
    blobs_dir = os.path.join(out, "blobs")
    hidden = blobs_dir + ".hidden"
    os.rename(blobs_dir, hidden)
    try:  # decode must succeed with the blob store ABSENT
        dec = DS.decode_table_dedup(spark, out,
                                    columns=["repo", "path", "lang"])
        got = sorted((r["repo"], r["path"], r["lang"] or "")
                     for r in dec.collect())
        want = sorted((r["repo"], r["path"], r["lang"] or "")
                      for r in src.select("repo", "path", "lang").collect())
        assert got == want
    finally:
        os.rename(hidden, blobs_dir)


def test_predicate_decode_with_sha_pushdown(spark, store, monkeypatch):
    out, src, _ = store
    pred = ("repo", "=", "org0/edge")
    dec = DS.decode_table_dedup(spark, out, predicate=pred)
    assert _rows(dec) == _rows(src.filter("repo = 'org0/edge'"))
    # the same read with pushdown disabled (full blob decode + join)
    monkeypatch.setattr(DS, "BLOB_PUSHDOWN_LIMIT", 0)
    dec2 = DS.decode_table_dedup(spark, out, predicate=pred)
    assert _rows(dec2) == _rows(dec)


def test_content_predicate_rejected(spark, store):
    out, _, _ = store
    with pytest.raises(ValueError, match="content"):
        DS.decode_table_dedup(spark, out, predicate=("content", "=", "x"))


def test_resume_skips_everything(spark, store):
    out, src, _ = store
    s2 = DS.encode_table_dedup(spark, src, out, n_buckets=16)
    assert s2["refs"]["parts_encoded_this_run"] == 0
    assert s2["blobs"]["parts_encoded_this_run"] == 0
    assert s2["refs"]["parts_skipped_resume"] == s2["refs"]["n_parts"]


def test_all_unique_corpus_empty_blob_store(spark):
    """No duplicated content at all: the blob store is EMPTY (hybrid
    pays nothing) and decode still round-trips every inline row."""
    out = os.path.join(WORK, "uniq")
    shutil.rmtree(out, ignore_errors=True)
    rows = [(f"org/u{i}", f"p/{i}.py", f"{i:040d}", "py", f"unique {i}")
            for i in range(50)]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    s = DS.encode_table_dedup(spark, src, out, n_buckets=2, blob_buckets=1)
    assert s["n_blobs"] == 0 and s["ref_rows"] == 0
    dec = DS.decode_table_dedup(spark, out)
    assert _rows(dec) == _rows(src)
