"""Per-layer measurements of the traced run.

The Spark ladders time the engine's own building blocks as separate jobs,
outside in, and attribute each layer as the difference between two rungs;
the single-process probes time the codec, integrity, read and key-index
code in the driver over the run's own inputs. A layer the workload does
not exercise reads 0 (see perfbench/README.md for the map from each metric
to the end-to-end metric it should move).
"""

from __future__ import annotations

import os
import statistics
import time
import uuid

import numpy as np

REPS = 1            # each ladder rung runs this often; medians are reported
COLUMNS = ("repo", "path", "commit", "lang", "content")
CODECS = ("raw", "dict", "rle", "fsst", "linedict", "pathdict", "hex")
LOOKUP_TYPES = ("repo_eq", "path_eq", "lang_scan")


def _med(tr, name: str) -> float:
    return statistics.median(tr.durations(name))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def encode_ladder(ctx, src, summaries: list[dict], lats: list[float]) -> dict:
    """plan -> shuffle -> Arrow IPC -> encode kernel -> parquet write,
    each rung one Spark job, against the encode_table wall."""
    from fileconvert_spark.operators.encode import (ENC_SPARK_SCHEMA,
                                                    make_encode_fn)
    from fileconvert_spark.operators.partitioning import (
        plan_buckets, repartition_by_bucket)
    from fileconvert_spark.plans.manifest import (MANIFEST_SPARK_SCHEMA,
                                                  make_write_kernel)

    def identity(batches):
        yield from batches

    tr = ctx.tr
    for r in range(REPS):
        with tr.span("ladder.plan"):
            dfb, info = plan_buckets(src, None, stats_sample_fraction=0.25)
        sh = repartition_by_bucket(dfb, info["n_buckets"])
        with tr.span("ladder.shuffle"):
            _noop(sh)
        with tr.span("ladder.passthrough"):
            _noop(sh.mapInArrow(identity, sh.schema))
        with tr.span("ladder.kernel"):
            _noop(sh.mapInArrow(make_encode_fn(part_id_col="bucket",
                                               cache_ns=uuid.uuid4().hex),
                                ENC_SPARK_SCHEMA))
        with tr.span("ladder.write"):
            sh.mapInArrow(make_write_kernel(ctx.path("ladder", str(r)),
                                            zone_cols=frozenset()),
                          MANIFEST_SPARK_SCHEMA).collect()
    plan, shuffle = _med(tr, "ladder.plan"), _med(tr, "ladder.shuffle")
    passthrough = _med(tr, "ladder.passthrough")
    kernel = _med(tr, "ladder.kernel")
    write = _med(tr, "ladder.write")
    rollup = statistics.median(s["manifest_rollup_wall_s"] for s in summaries)
    wall = statistics.median(lats)
    return {
        "partitioning.plan_s": plan,
        "partitioning.shuffle_s": shuffle,
        "ipc.passthrough_s": passthrough - shuffle,
        "encode.kernel_s": kernel - passthrough,
        "manifest.write_s": write - kernel,
        "manifest.rollup_s": rollup,
        "manifest.ladder_gap_frac.encode": (wall - (plan + write + rollup))
        / wall,
    }


def decode_ladder(ctx, src, table: str, lats: list[float]) -> dict:
    """decode_table plan -> full decode (noop sink) -> verify join on the
    materialized decode, against the decode + assert_roundtrip wall."""
    from fileconvert_spark.operators.verify import assert_roundtrip
    from fileconvert_spark.plans.manifest import decode_table

    tr = ctx.tr
    for _ in range(REPS):
        with tr.span("ladder.decode_plan"):
            dec = decode_table(ctx.spark, table)
        with tr.span("ladder.decode_noop"):
            _noop(dec)
        dec = decode_table(ctx.spark, table).persist()
        with tr.span("ladder.persist"):
            _noop(dec)
        with tr.span("ladder.verify_join"):
            assert_roundtrip(src, dec, ["repo", "path", "commit"])
        dec.unpersist()
    plan, noop = _med(tr, "ladder.decode_plan"), _med(tr, "ladder.decode_noop")
    join = _med(tr, "ladder.verify_join")
    wall = statistics.median(lats)
    return {
        "manifest.decode_plan_s": plan,
        "manifest.decode_noop_s": noop,
        "verify.join_s": join,
        "manifest.ladder_gap_frac.decode": (wall - (plan + noop + join))
        / wall,
    }


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def table_facts(table: str, summary: dict) -> dict:
    """Part balance, codec winners and bytes of one encoded table."""
    from fileconvert_spark.plans import fsio
    from fileconvert_spark.plans.manifest import read_all_manifests

    mans = read_all_manifests(table)
    raw = [m["raw_bytes"] for m in mans]
    out = {"partitioning.n_parts": len(mans),
           "partitioning.part_skew": max(raw) / (sum(raw) / len(raw)),
           "codecs.ratio": summary["ratio"]}
    wins = {c: 0 for c in CODECS}
    for key, n in summary["codec_histogram"].items():
        codec = key.split(":", 1)[1]
        if codec in wins:
            wins[codec] += n
    out.update({f"codecs.winner.{c}": n for c, n in wins.items()})
    enc = {c: 0 for c in COLUMNS}
    data = os.path.join(table, "data")
    for f in sorted(os.listdir(data)):
        t = fsio.read_parquet(os.path.join(data, f),
                              columns=["column", "enc_bytes"])
        for c, b in zip(t.column("column").to_pylist(),
                        t.column("enc_bytes").to_pylist()):
            enc[c] = enc.get(c, 0) + b
    out.update({f"codecs.enc_bytes.{c}": enc[c] for c in COLUMNS})
    out["manifest.container_overhead"] = _du(data) / sum(enc.values())
    return out


def snappy_ratio(ctx, src, table: str) -> dict:
    """Stored bytes over the Parquet/Snappy bytes of the same rows."""
    from fileconvert_spark.plans.manifest import snappy_baseline_bytes

    snappy = snappy_baseline_bytes(src, ctx.path("snappy"))
    data = _du(os.path.join(table, "data"))
    idx = _du(os.path.join(table, "indexes")) \
        if os.path.isdir(os.path.join(table, "indexes")) else 0
    out = {"manifest.bytes_vs_snappy": data / snappy}
    if idx:
        out["keyindex.index_bytes"] = idx
        out["keyindex.table_bytes_vs_snappy"] = (data + idx) / snappy
    return out


def _chunks(ctx):
    import pyarrow.parquet as pq

    from fileconvert_spark.operators.encode import DEFAULT_CHUNK_ROWS

    tbl = pq.read_table(ctx.corpus_path)
    return [tbl.slice(o, DEFAULT_CHUNK_ROWS)
            for o in range(0, tbl.num_rows, DEFAULT_CHUNK_ROWS)]


def codec_cpu(ctx) -> dict:
    """Single-process encode_column CPU per column over the corpus in
    the engine's 65,536-row chunks."""
    from fileconvert_spark.operators.encode import encode_column

    cpu = {c: 0.0 for c in COLUMNS}
    for chunk in _chunks(ctx):
        for c in COLUMNS:
            t = time.process_time()
            encode_column(chunk.column(c), cache_key=None, zone_stats=False)
            cpu[c] += time.process_time() - t
    return {f"codecs.encode_cpu_s.{c}": v for c, v in cpu.items()}


def native_probe(ctx) -> dict:
    """Whether the C kernels loaded, and FSST / bit-pack encode speed
    (the NumPy fallbacks when they did not)."""
    from fileconvert_spark import native
    from fileconvert_spark.functions import bitpack, fsst

    content = _chunks(ctx)[0].column("content").combine_chunks().drop_null()
    raw_mb = (content.nbytes) / 1e6
    _, blob = fsst.fsst_encode_array(content)
    table = fsst.deserialize_table(blob)
    ts = []
    for _ in range(3):
        t = time.perf_counter()
        fsst.fsst_encode_array(content, table)
        ts.append(time.perf_counter() - t)
    vals = ctx.rng.integers(0, 1 << 13, 1 << 20).astype(np.uint64)
    tb = []
    for _ in range(3):
        t = time.perf_counter()
        bitpack.pack_uints(vals, 13)
        tb.append(time.perf_counter() - t)
    return {"native.loaded": 1 if native.load() else 0,
            "native.fsst_encode_mb_s": raw_mb / statistics.median(ts),
            "native.bitpack_mb_s": vals.nbytes / 1e6 / statistics.median(tb)}


def decode_cpu(table: str) -> dict:
    """Single-process read of every part, integrity sha of every chunk
    and decode_column (without the sha) per codec."""
    from fileconvert_spark.operators.encode import (PAGE_CHUNK_ID,
                                                    chunk_integrity_sha,
                                                    decode_column)
    from fileconvert_spark.plans import fsio

    data = os.path.join(table, "data")
    read_s = sha_s = 0.0
    read_b = 0
    codec_s = {c: 0.0 for c in CODECS}
    for f in sorted(os.listdir(data)):
        p = os.path.join(data, f)
        t = time.perf_counter()
        rows = fsio.read_parquet(p)
        read_s += time.perf_counter() - t
        read_b += os.path.getsize(p)
        rows = rows.to_pylist()
        pages = {r["column"]: r["dict"] for r in rows
                 if r["chunk_id"] == PAGE_CHUNK_ID}
        for r in rows:
            if r["chunk_id"] == PAGE_CHUNK_ID:
                continue
            t = time.process_time()
            chunk_integrity_sha(r["payload"], r["dict"], r["validity"],
                                r["meta"])
            sha_s += time.process_time() - t
            t = time.process_time()
            decode_column(r["codec"], r["payload"], r["dict"], r["meta"],
                          r["n_rows"], r["validity"],
                          page_dict=pages.get(r["column"]))
            codec_s[r["codec"]] = codec_s.get(r["codec"], 0.0) \
                + time.process_time() - t
    out = {"fsio.read_s": read_s, "fsio.read_bytes": read_b,
           "decode.integrity_cpu_s": sha_s}
    out.update({f"decode.codec_cpu_s.{c}": codec_s[c] for c in CODECS})
    return out


def keyindex_probe(table: str, keys: list[str]) -> dict:
    """part_may_match of path-equality probes over every part."""
    from fileconvert_spark.plans.keyindex import part_may_match
    from fileconvert_spark.plans.manifest import (normalize_predicate,
                                                  read_all_manifests)

    pids = [int(m["part_id"]) for m in read_all_manifests(table)]
    ts, refuted = [], 0
    for k in keys:
        pred = normalize_predicate(("path", "=", k))
        t = time.perf_counter()
        refuted += sum(not part_may_match(pred, table, pid, {"path"},
                                          {"path": "string"})
                       for pid in pids)
        ts.append(time.perf_counter() - t)
    return {"keyindex.probe_s": statistics.median(ts),
            "keyindex.parts_refuted_frac": refuted / (len(keys) * len(pids))}


def similarity_probe(ctx, n_docs: int = 2000) -> dict:
    """Single-process minhash_signatures and jaccard_batch over a seeded
    sample of the corpus content, and minhash_lsh_pairs of the same sample
    at Jaccard thresholds 0.0 (every LSH candidate) and 0.5. Raises if a
    pair at 0.5 has an exact Jaccard below 0.5."""
    import pandas as pd

    from fileconvert_spark.functions.similarity import (jaccard_batch,
                                                        minhash_signatures)
    from fileconvert_spark.operators.dedup import minhash_lsh_pairs

    content = ctx.pdf["content"]
    pool = np.flatnonzero((content.str.len() < (64 << 10)).to_numpy())
    ids = np.sort(ctx.rng.choice(pool, n_docs, replace=False))
    texts = content.iloc[ids].tolist()
    mb = sum(len(t.encode()) for t in texts) / 1e6
    a, b = ctx.rng.integers(0, n_docs, (2, 20 * n_docs))
    ta, tb = [texts[i] for i in a], [texts[i] for i in b]
    ts, tj = [], []
    for _ in range(3):
        t = time.perf_counter()
        minhash_signatures(texts)
        ts.append(time.perf_counter() - t)
        t = time.perf_counter()
        jaccard_batch(ta, tb)
        tj.append(time.perf_counter() - t)

    docs = ctx.spark.createDataFrame(pd.DataFrame(
        {"id": ids.astype(np.int64), "text": texts}))
    with ctx.tr.span("ladder.lsh_candidates"):
        cand = minhash_lsh_pairs(docs, "id", jaccard_threshold=0.0).count()
    with ctx.tr.span("ladder.lsh_pairs"):
        pairs = minhash_lsh_pairs(docs, "id", jaccard_threshold=0.5).collect()
    text = dict(zip(ids.tolist(), texts))
    exact = jaccard_batch([text[p["id_a"]] for p in pairs],
                          [text[p["id_b"]] for p in pairs])
    if (exact < 0.5).any():
        raise AssertionError(f"{int((exact < 0.5).sum())} LSH pairs have an "
                             "exact Jaccard below 0.5")
    return {"similarity.minhash_mb_s": mb / statistics.median(ts),
            "similarity.jaccard_pairs_s": len(ta) / statistics.median(tj),
            "dedup.candidate_pairs": cand,
            "dedup.verified_frac": len(pairs) / cand if cand else 0.0}


def spark_layers(folded: dict, tr, lats: list[float], cores: int) -> dict:
    """Event-log task metrics of the timed operations, per operation, and
    the lookup task counts per lookup type."""
    prefix = f"fcs-bench:{tr.workload}/op"
    keys = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "tasks")
    tot = {k: 0.0 for k in keys}
    per_type = {k: 0 for k in LOOKUP_TYPES}
    for desc, acc in folded.items():
        if desc == prefix or desc.startswith(prefix + "."):
            for k in keys:
                tot[k] += acc[k]
            for kind in LOOKUP_TYPES:
                if desc.startswith(f"{prefix}.{kind}"):
                    per_type[kind] += acc["tasks"]
    n = len(lats)
    out = {f"spark.{k}": v / n for k, v in tot.items()}
    out["spark.slot_idle_frac"] = 1 - tot["executor_run_s"] / (sum(lats)
                                                               * cores)
    if tr.workload == "lookup_mix":
        out.update({f"manifest.tasks_per_lookup.{k}":
                    v / len(tr.durations(f"op.{k}"))
                    for k, v in per_type.items()})
    return out
