"""One benchmark run of one workload, in a fresh process and a fresh JVM.

Started by perfbench/run.py, which owns the environment, the time limit
and process clean-up. Closed loop, one client, Spark ``local[nproc]``.
The generated inputs are all the engine receives; every output is
checked, and a mismatch or an exception counts as a failed operation
without ending the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fileconvert_spark  # noqa: E402,F401  (sets malloc env before numpy)
import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import ladders  # noqa: E402
import tracing  # noqa: E402

N_ROWS = 20_000      # corpus rows before the edge rows
MIN_OPS = 3          # timed operations per run, even past --seconds
KEY_COLS = ["repo", "path", "commit"]
LOOKUP_TYPES = ladders.LOOKUP_TYPES
ENCODE_KW = dict(n_buckets=None, resume=False, stats_sample_fraction=0.25)


class Ctx:
    """What every workload shares: inputs, session, tracer, work dirs."""

    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.rng = np.random.Generator(np.random.PCG64(args.seed))
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.tr = tracing.Tracer(False, "")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def make_corpus(self) -> None:
        from fileconvert_spark.corpus import make_codefiles

        self.pdf = make_codefiles(N_ROWS, seed=self.args.seed)
        self.rows = len(self.pdf)
        self.content_mb = self.pdf["content"].str.len().fillna(0).sum() / 1e6
        self.corpus_path = self.path("corpus.parquet")
        pq.write_table(pa.Table.from_pandas(self.pdf, preserve_index=False),
                       self.corpus_path, row_group_size=20_000)

    def src(self):
        return self.spark.read.parquet(self.corpus_path)


# ------------------------------------------------------------ workloads

class Roundtrip:
    """The paper's contract per operation: encode_table of the corpus into
    a fresh directory (production configuration: auto buckets, 25% stats
    sample, unclustered), then decode_table + assert_roundtrip (per-row
    sha) of that table."""

    name = "roundtrip"
    probes = ()  # checked probes of the traced run, beyond layers()

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.summaries: list[dict] = []
        self.enc_lats: list[float] = []
        self.dec_lats: list[float] = []
        self.table: str | None = None

    def inputs(self):
        self.ctx.make_corpus()

    def setup(self):
        self.src = self.ctx.src()

    def op(self, i: int):
        from fileconvert_spark.operators.verify import assert_roundtrip
        from fileconvert_spark.plans.manifest import decode_table, encode_table

        ctx = self.ctx
        out = ctx.path("enc", f"op{i}")
        t0 = time.perf_counter()
        with ctx.tr.span("encode_table"):
            s = encode_table(ctx.spark, self.src, out, **ENCODE_KW)
        t1 = time.perf_counter()
        with ctx.tr.span("decode_table"):
            dec = decode_table(ctx.spark, out)
        with ctx.tr.span("assert_roundtrip"):
            rep = assert_roundtrip(self.src, dec, KEY_COLS)
        t2 = time.perf_counter()
        if self.table:
            shutil.rmtree(self.table, ignore_errors=True)
        self.table = out
        if s["n_rows"] != ctx.rows:
            raise AssertionError(f"encode n_rows {s['n_rows']} != {ctx.rows}")
        if rep["sha_mismatches"] or rep["n_dec"] != ctx.rows:
            raise AssertionError(f"round trip: {rep}")
        if i >= 0:
            self.summaries.append(s)
            self.enc_lats.append(t1 - t0)
            self.dec_lats.append(t2 - t1)
        return t2 - t0

    def report(self, m):
        mb = self.ctx.content_mb
        m["encode_mb_s"] = (mb / statistics.median(self.enc_lats), "MB/s")
        m["decode_verify_mb_s"] = (mb / statistics.median(self.dec_lats),
                                   "MB/s")

    def layers(self):
        ctx = self.ctx
        out = ladders.encode_ladder(ctx, self.src, self.summaries,
                                    self.enc_lats)
        out.update(ladders.decode_ladder(ctx, self.src, self.table,
                                         self.dec_lats))
        out.update(ladders.table_facts(self.table, self.summaries[-1]))
        out.update(ladders.snappy_ratio(ctx, self.src, self.table))
        out.update(ladders.codec_cpu(ctx))
        out.update(ladders.native_probe(ctx))
        out.update(ladders.decode_cpu(self.table))
        return out


class LookupMix:
    """Interleaved repo_eq (zone-pruned, Zipf keys), path_eq (key-index
    pruned, uniform keys) and lang_scan (two-column projection, no
    pruning) against a table encoded in set-up with cluster_by=repo and
    a key index on path."""

    name = "lookup_mix"
    probes = (ladders.similarity_probe,)
    STREAM = 300  # seeded operations; a run uses a prefix

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.lats: dict[str, list[float]] = {k: [] for k in LOOKUP_TYPES}

    def inputs(self):
        ctx = self.ctx
        ctx.make_corpus()
        pdf = ctx.pdf
        repos = pdf["repo"].value_counts()
        repos = sorted(repos.index, key=lambda r: (-repos[r], r))
        zipf = 1.0 / np.arange(1, len(repos) + 1) ** 1.1
        paths = pdf["path"].to_numpy()
        langs = sorted(pdf["lang"].dropna().unique())
        rng = ctx.rng
        keys = {
            "repo_eq": [repos[i] for i in rng.choice(
                len(repos), self.STREAM, p=zipf / zipf.sum())],
            "path_eq": [paths[i] for i in rng.integers(0, len(paths),
                                                       self.STREAM)],
            "lang_scan": [langs[i] for i in rng.integers(0, len(langs),
                                                         self.STREAM)],
        }
        # round-robin over the types keeps the mix identical across seeds
        self.stream = [(k, keys[k][i // 3])
                       for i, k in zip(range(self.STREAM),
                                       LOOKUP_TYPES * self.STREAM)]

    def setup(self):
        from pyspark.sql import functions as F

        from fileconvert_spark.plans.manifest import encode_table

        ctx = self.ctx
        self.src = ctx.src()
        self.table = ctx.path("table")
        with ctx.tr.span("setup.encode_table"):
            self.summary = encode_table(
                ctx.spark, self.src, self.table, cluster_by=("repo",),
                key_index_cols=("path",), **ENCODE_KW)
        # expected (rows, hash) per key: a plain Spark filter on the source
        self.expect = {}
        with ctx.tr.span("setup.expected"):
            for kind, col in (("repo_eq", "repo"), ("path_eq", "path"),
                              ("lang_scan", "lang")):
                keys = sorted({k for t, k in self.stream if t == kind})
                cols = self._cols(kind)
                rows = (self.src.select(*cols).filter(F.col(col).isin(keys))
                        .groupBy(col).agg(*_fingerprint(cols)).collect())
                got = {r[0]: (r[1], r[2]) for r in rows}
                for k in keys:
                    self.expect[(kind, k)] = got.get(k, (0, None))

    def _cols(self, kind: str) -> list[str]:
        cols = self.src.columns
        return [c for c in cols if c in ("lang", "path")] \
            if kind == "lang_scan" else cols

    def op(self, i: int):
        from fileconvert_spark.plans.manifest import decode_table

        ctx = self.ctx
        kind, key = self.stream[i % len(self.stream)]
        col = {"repo_eq": "repo", "path_eq": "path", "lang_scan": "lang"}[kind]
        cols = self._cols(kind) if kind == "lang_scan" else None
        t = time.perf_counter()
        with ctx.tr.span(kind):
            with ctx.tr.span("decode_table"):
                df = decode_table(ctx.spark, self.table, columns=cols,
                                  predicate=(col, "=", key))
            with ctx.tr.span("action"):
                row = df.agg(*_fingerprint(df.columns)).collect()[0]
        lat = time.perf_counter() - t
        want = self.expect[(kind, key)]
        if (row[0], row[1]) != want:
            raise AssertionError(f"{kind} {key!r}: got {tuple(row)}, "
                                 f"want {want}")
        if i >= 0:
            self.lats[kind].append(lat)
        return lat

    def report(self, m):
        for kind, xs in self.lats.items():
            m[f"{kind}_p50_s"] = (statistics.median(xs), "s")
            m[f"{kind}_tail_s"] = tail(xs)

    def layers(self):
        out = ladders.table_facts(self.table, self.summary)
        out.update(ladders.snappy_ratio(self.ctx, self.src, self.table))
        out.update(ladders.keyindex_probe(
            self.table, [k for t, k in self.stream if t == "path_eq"][:30]))
        plans = [d for kind in LOOKUP_TYPES
                 for d in self.ctx.tr.durations(f"op.{kind}.decode_table")]
        out["manifest.decode_plan_s"] = statistics.median(plans)
        return out


WORKLOADS = {w.name: w for w in (Roundtrip, LookupMix)}


def _fingerprint(cols):
    """Row count and an order-free content hash of ``cols``."""
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)),
            F.sum(F.xxhash64(*[F.col(c) for c in cols])
                  .cast("decimal(38,0)"))]


def tail(xs: list[float]):
    """Highest percentile with at least ten samples beyond it, as
    (value, unit, percentile, samples); None below eleven samples."""
    n = len(xs)
    if n < 11:
        return (None, "s", None, n)
    k = n - 10
    return (sorted(xs)[k - 1], "s", round(100.0 * k / n, 1), n)


# ------------------------------------------------------------------ run

def run(args) -> dict:
    t_start = args.t0
    # lang_scan filters on a column without zone stats by design
    warnings.filterwarnings("ignore", message="decode_table: predicate column")
    ctx = Ctx(args)
    wl = WORKLOADS[args.workload](ctx)

    t = time.perf_counter()
    wl.inputs()
    inputs_s = time.perf_counter() - t

    from fileconvert_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={ctx.path('jtmp')}"}
    if args.trace:
        log_dir = ctx.path("eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
    os.makedirs(ctx.path("jtmp"))
    ctx.spark = get_spark(f"fcs-bench-{args.workload}",
                          master=f"local[{ctx.cores}]", extra_conf=conf)
    ctx.tr = tracing.Tracer(bool(args.trace), f"{args.workload}-{args.seed}",
                            ctx.spark.sparkContext, args.workload)

    attempted = failed = 0

    def attempt(i: int):
        nonlocal attempted, failed
        attempted += 1
        try:
            return wl.op(i)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            failed += 1
            traceback.print_exc()
            return None

    wl.setup()
    t = time.perf_counter()
    with ctx.tr.span("first_op"):
        attempt(-1)
    first_op_s = time.perf_counter() - t
    setup_s = time.time() - t_start - inputs_s
    # the first warm operation still runs measurably slower than the rest
    # (JIT and codegen warm-up); one more untimed operation, outside
    # setup_s, absorbs it
    with ctx.tr.span("warm_op"):
        attempt(-2)

    lats: list[float] = []
    cpu0 = tracing.tree_cpu_s(os.getpid())
    steal0 = tracing.host_cpu_ticks()
    t_loop = time.perf_counter()
    i = 0
    while time.perf_counter() - t_loop < args.seconds or i < MIN_OPS:
        with ctx.tr.span("op"):
            lat = attempt(i)
        if lat is not None:
            lats.append(lat)
        i += 1
    cpu_s = tracing.tree_cpu_s(os.getpid()) - cpu0
    steal1 = tracing.host_cpu_ticks()
    rss = tracing.tree_peak_rss_mb(os.getpid())
    if not lats:
        raise RuntimeError("every timed operation failed")

    m: dict[str, tuple] = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(lats), "s"),
        "cpu_s_per_op": (cpu_s / i, "s"),
        "peak_rss_mb": (rss["driver"] + rss["jvm"] + rss["python_workers"],
                        "MB"),
    }
    shown = dict(m)
    shown["op_tail_s"] = tail(lats)
    shown["ops_failed_frac"] = (failed / attempted, "1")
    shown["first_op_s"] = (first_op_s, "s")
    shown["inputs_s"] = (inputs_s, "s")
    for k, v in rss.items():
        shown[f"peak_rss.{k}"] = (v, "count" if k.startswith("n_") else "MB")
    # CPU time the hypervisor gave to other guests while this run measured
    shown["host_steal_frac"] = ((steal1[0] - steal0[0])
                                / max(steal1[1] - steal0[1], 1), "1")
    wl.report(shown)

    layers: dict[str, float] = {}
    if args.trace:
        layers = wl.layers()
        layers["first_op_s"] = first_op_s
        for probe in wl.probes:
            attempted += 1
            try:
                layers.update(probe(ctx))
            except Exception:  # noqa: BLE001 - counted like a failed op
                failed += 1
                traceback.print_exc()
    ctx.spark.stop()
    if args.trace:
        folded = tracing.fold_event_log(ctx.path("eventlog"))
        layers.update(ladders.spark_layers(folded, ctx.tr, lats, ctx.cores))
        write_trace(ctx, folded, layers)

    print(f"workload {args.workload} seed {args.seed} local[{ctx.cores}] "
          f"rows {ctx.rows} content_mb {ctx.content_mb:.3f} "
          f"ops {attempted} (timed {i}) failed {failed}")
    print("  latencies_s " + " ".join(f"{x:.3f}" for x in lats))
    for k, v in shown.items():
        if len(v) == 4:
            print(f"  {k:<24} " + (f"{v[0]:.4f} {v[1]} (p{v[2]} of {v[3]})"
                                   if v[0] is not None else
                                   f"n/a ({v[3]} samples, needs 11)"))
        else:
            print(f"  {k:<24} {v[0]:.6g} {v[1]}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "e2e": {k: {"value": v[0], "unit": v[1]} for k, v in m.items()},
            "layers": layers}


def write_trace(ctx: Ctx, folded: dict, layers: dict) -> None:
    out = ctx.path("..", "trace")
    os.makedirs(out, exist_ok=True)
    selfs = ctx.tr.self_times()
    with open(os.path.join(out, f"{ctx.args.workload}-seed{ctx.args.seed}"
                           ".json"), "w") as f:
        json.dump({"spans": ctx.tr.spans, "self_time": selfs,
                   "spark_by_description": folded, "layers": layers},
                  f, indent=1, default=str)
    print("  span self time (s): total/self/count")
    for name, s in sorted(selfs.items()):
        print(f"    {name:<40} {s['total_s']:9.3f} {s['self_s']:9.3f} "
              f"{s['count']:5d}")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args()
    res = run(args)
    with open(args.result, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
