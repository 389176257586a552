"""The workloads: each runs user-facing work against the package's
public entry points, checks its output against references that do not
come from the code under test, and, in a traced run, adds per-layer
probes.

``dedup_batch`` and ``compare_gather`` are the benchmark's workloads.
``quality_filter`` runs the quality job and is kept out of
BENCHMARK.json because the job fails its output check on every seed (a
known defect, see README.md); ``selfcheck.py`` runs it to show the defect.

A workload may have an untimed ``PREPARE`` step that runs once, and
``WARMUPS`` untimed iterations, before the timed loop.  The workload
function is called once per iteration and returns a dict with the timed ``wall_s``, the input count and bytes, the
bytes it stored, the failed checks, and ``outputs`` (digests of
everything it produced, so a traced and an untraced run can be
compared).  Traced probes run on the first timed iteration only.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import re
import time

from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq

from . import corpus
from .trace import MB, MemorySampler

SIZES = {
    # n_base synth families: five files each for the dedup workloads and
    # compare, three for quality.  Those three share a seed's corpus.
    "full": {"dedup_batch": 300, "dedup_ingest": 300, "compare_gather": 300,
             "quality_filter": 14},
    "tiny": {"dedup_batch": 4, "dedup_ingest": 4, "compare_gather": 4, "quality_filter": 5},
}
# dedup_ingest: (batches, files per batch) drawn at random from the corpus
INGEST = {"full": (1, 300), "tiny": (1, 4)}
STAGE_LAYER = {
    "signatures": "sketch.sketch_signatures",
    "bands": "lsh.band_signatures",
    "candidates": "lsh.candidate_pairs",
    "edges": "lsh.verify_pairs",
    "clusters": "cluster.assign_clusters",
}
QF_ARGS = {"ngram": 8, "segment_min_df": 3, "substring_min_len": 200}
MIN_RECALL = 0.98
# compare_gather: the jaccard threshold of compare_all_pairs, the gather
# queries, and the text subset that ngram_jaccard_pairs runs over: the
# first files of the corpus up to a fixed number of words, so its cost
# varies little from seed to seed
COMPARE_THRESHOLD = 0.5
N_QUERIES = 8
NGRAM = {"n": 5, "threshold": 0.5}
NGRAM_WORDS = 8_000
# Java's \s, which docops.words splits on
JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def pipeline_config():
    """The configuration ``dedup_job.main`` builds from its defaults.  The
    traced probes need it as an object; ``dedup_batch`` checks that its
    hash equals the one the job reports, so a change to the job's defaults
    fails the check instead of leaving the probes on a stale copy."""
    from sourmash_spark.params import LSHParams, SketchParams
    from sourmash_spark.pipeline import PipelineConfig

    return PipelineConfig(
        sketch=SketchParams(ksize=21, scaled=50),
        lsh=LSHParams(num_bands=16, band_size=2),
        jaccard_threshold=0.5,
        bucket_cap=500,
    )


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def partition(sig_ids, cluster_ids) -> list[list[int]]:
    groups: dict[int, list[int]] = {}
    for s, c in zip(sig_ids, cluster_ids):
        groups.setdefault(int(c), []).append(int(s))
    return sorted(sorted(g) for g in groups.values())


def read_table(path: str, columns=None):
    return pq.read_table(path, columns=columns).to_pandas()


def read_meta(cdir: str) -> dict:
    with open(os.path.join(cdir, "meta.json")) as f:
        return json.load(f)


def corpus_dir(ctx, workload: str) -> str:
    """The workload's cached input directory, generated on first use."""
    make = {"dedup_batch": corpus.dedup_corpus, "dedup_ingest": corpus.dedup_corpus,
            "compare_gather": corpus.dedup_corpus, "quality_filter": corpus.quality_corpus}
    return make[workload](ctx.cache, ctx.seed, SIZES[ctx.size][workload])


def shared_counts(sets: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(a, b, shared)`` for every index pair a < b whose arrays of
    distinct values share at least one value: an inverted index in numpy."""
    n = len(sets)
    owner = np.repeat(np.arange(n, dtype=np.int64), [len(x) for x in sets])
    vals = np.concatenate(sets) if n else np.empty(0, np.int64)
    order = np.lexsort((owner, vals))
    vals, owner = vals[order], owner[order]
    starts = np.flatnonzero(np.r_[True, vals[1:] != vals[:-1]])
    ends = np.r_[starts[1:], len(vals)]
    codes = [np.empty(0, np.int64)]
    for s, e in zip(starts[ends - starts > 1], ends[ends - starts > 1]):
        i, j = np.triu_indices(e - s, 1)
        codes.append(owner[s:e][i] * n + owner[s:e][j])
    pair, shared = np.unique(np.concatenate(codes), return_counts=True)
    return pair // n, pair % n, shared


def check_pairs(name: str, got: dict, want: dict, threshold: float) -> list[str]:
    """Reported ``{(a, b): jaccard}`` against the reference: the same pairs
    at or above the threshold, and the same values.  Pairs within 1e-9 of
    the threshold may fall either way."""
    edge = {p for p, j in want.items() if abs(j - threshold) <= 1e-9}
    need = {p for p, j in want.items() if j >= threshold} - edge
    fails = []
    if need - set(got):
        fails.append(f"{name}: {len(need - set(got))} reference pairs missing")
    if set(got) - need - edge:
        fails.append(f"{name}: {len(set(got) - need - edge)} pairs not in the reference")
    off = [p for p in set(got) & set(want) if abs(got[p] - want[p]) > 1e-9]
    if off:
        fails.append(f"{name}: {len(off)} jaccards differ from the reference, e.g. {off[0]}")
    return fails


@contextlib.contextmanager
def traced_stages(ctx):
    """Wrap ``checkpoint.run_stage`` so each pipeline stage runs inside a
    span named after the layer that builds it, keeping the stage's plan."""
    from sourmash_spark.sources import checkpoint as ckpt

    real = ckpt.run_stage

    def run_stage(spark, base, stage, config_hash, build, **kw):
        with ctx.tracer.span(STAGE_LAYER[stage]) as sp:
            def build_kept():
                df = build()
                ctx.tracer.plan(sp, df)
                return df
            return real(spark, base, stage, config_hash, build_kept, **kw)

    ckpt.run_stage = run_stage
    try:
        yield
    finally:
        ckpt.run_stage = real


def run_job(ctx, span: str, main, argv: list[str]) -> tuple[dict, float, dict]:
    """Run a job's ``main(argv)`` inside a span; return the summary JSON
    line it prints, the span's wall seconds, and (traced runs only) the
    job's peak process-tree memory as a per-layer metric."""
    buf = io.StringIO()
    mem = MemorySampler() if ctx.trace else contextlib.nullcontext()
    with mem, ctx.tracer.span(span) as root, contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"{span} exited {rc}")
    layer = {f"{span}.peak_rss_mb": mem.peak / MB} if ctx.trace else {}
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    return summary, root["end"] - root["start"], layer


# ---------------------------------------------------------------- dedup_batch

def dedup_batch(ctx, it: int) -> dict:
    from jobs import dedup_job
    from sourmash_spark.sources import checkpoint as ckpt

    cdir = corpus_dir(ctx, "dedup_batch")
    meta = read_meta(cdir)
    ck = os.path.join(ctx.work, f"ckpt-{it}")
    argv = ["--input", os.path.join(cdir, "files.parquet"), "--output", ck,
            "--id-col", "file_id"]
    ctx.live_spark()  # the job's getOrCreate picks up the benchmark session
    with traced_stages(ctx):
        summary, wall, layer = run_job(ctx, "jobs.dedup_job", dedup_job.main, argv)

    cfg = pipeline_config()
    ch = summary["config_hash"]
    clusters = read_table(ckpt.stage_path(ck, "clusters", ch))
    edges = read_table(ckpt.stage_path(ck, "edges", ch), ["sig_id_a", "sig_id_b"])
    fails = []
    if cfg.config_hash() != ch:
        fails.append("dedup_job's configuration differs from pipeline_config()")
    if summary["n_signatures"] != meta["n_files"]:
        fails.append(f"n_signatures {summary['n_signatures']} != {meta['n_files']}")
    if summary["n_edges"] != len(edges):
        fails.append("n_edges disagrees with the edges table")
    part = partition(clusters["sig_id"], clusters["cluster_id"])
    if summary["n_clusters"] != len(part) or sorted(clusters["sig_id"]) != list(
        range(meta["n_files"])
    ):
        fails.append("clusters do not partition the input")
    found = set(zip(edges["sig_id_a"].astype(int), edges["sig_id_b"].astype(int)))
    req = [tuple(sorted(p)) for p in meta["required_pairs"]]
    recall = sum(p in found for p in req) / max(len(req), 1)
    if recall < MIN_RECALL:
        fails.append(f"planted-pair recall {recall:.4f} < {MIN_RECALL}")
    part_digest = digest(part)
    fails += ctx.check_recorded(cdir, part_digest)
    res = {
        "wall_s": wall, "n_inputs": meta["n_files"],
        "input_bytes": meta["input_bytes"], "stored_bytes": dir_bytes(ck),
        "fails": fails,
        "outputs": {"summary": {k: v for k, v in summary.items()
                                if k not in ("wall_sec", "output")},
                    "partition": part_digest,
                    "edges": digest(sorted(found))},
        "layer": {**layer, "lsh.verify_pairs.recall": recall},
    }
    if ctx.trace and it == ctx.warmups:
        # compare_gather once over the job's stored signatures
        prepare_compare(ctx, ckpt.stage_path(ck, "signatures", ch))
        probe = compare_gather(ctx, it)
        fails += probe["fails"]
        res["layer"].update(probe["layer"])
    return res


# ---------------------------------------------------------------- dedup_ingest

def prepare_ingest(ctx) -> None:
    """Split the corpus into a base and the random batches INGEST sizes."""
    cdir = corpus_dir(ctx, "dedup_ingest")
    meta = read_meta(cdir)
    k, m = INGEST[ctx.size]
    rng = np.random.default_rng([ctx.seed, 71])
    picked = rng.choice(meta["n_files"], size=k * m, replace=False)
    ctx.ingest = SimpleNamespace(
        cdir=cdir, meta=meta, picked=picked.tolist(),
        batches=[sorted(picked[i * m:(i + 1) * m].tolist()) for i in range(k)],
    )


def dedup_ingest(ctx, it: int) -> dict:
    """From a cold JVM, as a daily ingest job runs: ``run_pipeline`` over
    the base into a fresh checkpoint, each batch through
    ``pipeline.incremental_update`` with the clusters re-converged, then
    ``pipeline.compact_increments``.  The base build is timed too: timed
    alone after an untimed base build, the ingest part (~9-18 s) read a
    ten-seed spread of 0.29 on a shared 4-vCPU host, where cold pipeline
    runs of ~30 s read 0.08-0.12."""
    from pyspark.sql import functions as F

    from sourmash_spark.pipeline import (
        compact_increments, incremental_update, run_pipeline,
    )
    from sourmash_spark.sources import checkpoint as ckpt

    g, cfg = ctx.ingest, pipeline_config()
    ch = cfg.config_hash()
    ck = os.path.join(ctx.work, f"ingest-{it}")
    spark, tr = ctx.live_spark(), ctx.tracer
    files = spark.read.parquet(os.path.join(g.cdir, "files.parquet"))
    t0 = time.perf_counter()
    with tr.span("pipeline.run_pipeline"):
        run_pipeline(
            spark,
            files.filter(~F.col("file_id").isin(g.picked)).withColumnRenamed("file_id", "sig_id"),
            ck, cfg,
        )
    for ids in g.batches:
        with tr.span("pipeline.incremental_update") as sp:
            got = incremental_update(
                spark,
                files.filter(F.col("file_id").isin(ids)).withColumnRenamed("file_id", "sig_id"),
                ck, cfg,
            )
            tr.plan(sp, got["clusters"])
            got["clusters"].count()
    with tr.span("pipeline.compact_increments"):
        compact_increments(spark, ck, cfg)
    wall = time.perf_counter() - t0

    clusters = read_table(ckpt.stage_path(ck, "clusters", ch))
    edges = read_table(ckpt.stage_path(ck, "edges", ch), ["sig_id_a", "sig_id_b"])
    fails = []
    if sorted(clusters["sig_id"]) != list(range(g.meta["n_files"])):
        fails.append("compacted clusters do not partition the corpus")
    found = set(zip(edges["sig_id_a"].astype(int), edges["sig_id_b"].astype(int)))
    req = [tuple(sorted(p)) for p in g.meta["required_pairs"]]
    recall = sum(p in found for p in req) / max(len(req), 1)
    if recall < MIN_RECALL:
        fails.append(f"planted-pair recall {recall:.4f} < {MIN_RECALL}")
    part = partition(clusters["sig_id"], clusters["cluster_id"])
    fails += ctx.check_recorded(g.cdir, digest(part))
    rewritten = sum(dir_bytes(ckpt.stage_path(ck, s, ch))
                    for s in ("signatures", "bands", "edges", "clusters"))
    res = {
        "wall_s": wall, "n_inputs": sum(len(b) for b in g.batches),
        "input_bytes": g.meta["input_bytes"], "stored_bytes": dir_bytes(ck),
        "fails": fails,
        "outputs": {"partition": digest(part), "edges": digest(sorted(found))},
        "layer": {"pipeline.compact_increments.rewritten_mb": rewritten / MB},
    }
    if ctx.trace and it == ctx.warmups:
        # the explicit reference: run_pipeline over the whole corpus
        from sourmash_spark.pipeline import run_pipeline

        ref = run_pipeline(spark, files.withColumnRenamed("file_id", "sig_id"),
                           os.path.join(ctx.work, "union-ckpt"), cfg)
        ref_pdf = ref["clusters"].toPandas()
        if part != partition(ref_pdf["sig_id"], ref_pdf["cluster_id"]):
            fails.append("ingest + compaction partition != run_pipeline over the corpus")
        quality_probes(ctx, corpus.quality_corpus(
            ctx.cache, ctx.seed, SIZES[ctx.size]["quality_filter"]))
    return res


# ------------------------------------------------------------- compare_gather

def ngram_reference(texts: list[str], n: int) -> dict:
    """Exact word-n-gram jaccard of every pair sharing a gram, with the
    tokenisation of ``docops.words`` (lower case, split on Java's \\s)."""
    ids: dict[str, int] = {}
    sets = []
    for t in texts:
        w = [x for x in JAVA_SPACE.split(t.lower()) if x]
        grams = {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}
        sets.append(np.array(sorted(ids.setdefault(g, len(ids)) for g in grams),
                             dtype=np.int64))
    size = np.array([len(x) for x in sets])
    a, b, shared = shared_counts(sets)
    return {(int(i), int(j)): k / (size[i] + size[j] - k)
            for i, j, k in zip(a, b, shared)}


def prepare_compare(ctx, sig_path: str | None = None) -> None:
    """Set-up of compare_gather, before any iteration: sketch the corpus
    with the dedup job's parameters into a stored signatures table (unless
    `sig_path` names one), build the gather queries and the text subset,
    and compute the numpy references from the stored hashes and the raw
    text."""
    import pandas as pd

    from sourmash_spark.sketch import sketch_signatures

    cdir = corpus_dir(ctx, "compare_gather")
    cfg = pipeline_config()
    spark = ctx.live_spark()
    if sig_path is None:
        sig_path = os.path.join(ctx.work, "signatures.parquet")
        files = spark.read.parquet(os.path.join(cdir, "files.parquet"))
        sketch_signatures(files, cfg.sketch, keep_cols=["file_id"]) \
            .withColumnRenamed("file_id", "sig_id").write.parquet(sig_path)
    sigs_pdf = read_table(sig_path, ["sig_id", "md5", "hashes"])
    hashes = {int(s): np.asarray(h, dtype=np.int64)
              for s, h in zip(sigs_pdf["sig_id"], sigs_pdf["hashes"])}
    # composite gather queries: the union of three stored signatures from
    # distinct families (synth writes a family's five files under
    # consecutive ids, and sig_id is the file id)
    rng = np.random.default_rng([ctx.seed, 53])
    fam = np.arange(len(hashes)) // 5
    queries = []
    for q in range(N_QUERIES):
        fams = rng.choice(int(fam.max()) + 1, size=3, replace=False)
        ids = [int(rng.choice(np.flatnonzero(fam == f))) for f in fams]
        merged = np.unique(np.concatenate([hashes[i].view(np.uint64) for i in ids]))
        queries.append({"query_id": q, "hashes": merged.view(np.int64).tolist()})
    order = sorted(hashes)
    a, b, shared = shared_counts([hashes[s] for s in order])
    size = np.array([len(hashes[s]) for s in order])
    texts = read_table(os.path.join(cdir, "files.parquet"), ["file_id", "content"])
    words = np.cumsum([len(t.split()) for t in texts["content"]])
    texts = texts.iloc[:int(np.searchsorted(words, NGRAM_WORDS)) + 1]
    text_ids = texts["file_id"].astype(int).tolist()
    ctx.compare = SimpleNamespace(
        meta=read_meta(cdir), cfg=cfg, sig_path=sig_path, hashes=hashes,
        by_md5=dict(zip(sigs_pdf["md5"], sigs_pdf["hashes"])),
        queries=queries,
        qdf=spark.createDataFrame(pd.DataFrame(queries),
                                  "query_id long, hashes array<long>"),
        docs=spark.createDataFrame(pd.DataFrame(
            {"doc_id": texts["file_id"].astype("int64"), "text": texts["content"]})),
        n_docs=len(texts),
        compare_ref={(order[i], order[j]): k / (size[i] + size[j] - k)
                     for i, j, k in zip(a, b, shared)},
        ngram_ref={(text_ids[i], text_ids[j]): v for (i, j), v in
                   ngram_reference(list(texts["content"]), NGRAM["n"]).items()},
    )


def compare_gather(ctx, it: int) -> dict:
    """All-pairs compare, many-query gather and word-n-gram jaccard over
    the stored signatures table and a text subset of the same corpus."""
    from sourmash_spark.operators.compare import compare_all_pairs
    from sourmash_spark.operators.dedup import ngram_jaccard_pairs
    from sourmash_spark.operators.gather import multigather

    c = ctx.compare
    spark, tr, sk = ctx.live_spark(), ctx.tracer, c.cfg.sketch
    t0 = time.perf_counter()
    sigs = spark.read.parquet(c.sig_path)
    with tr.span("compare.compare_all_pairs") as sp:
        cmp_df = compare_all_pairs(sigs, threshold=COMPARE_THRESHOLD, scaled=sk.scaled,
                                   ksize=sk.ksize, n_sigs=len(c.hashes))
        tr.plan(sp, cmp_df)
        pairs = cmp_df.select("sig_id_a", "sig_id_b", "jaccard").toPandas()
    with tr.span("gather.multigather") as sp:
        g = multigather(c.qdf, sigs, scaled=sk.scaled, ksize=sk.ksize)
        tr.plan(sp, g)
        gpdf = g.select("query_id", "md5", "gather_result_rank").toPandas()
    with tr.span("dedup.ngram_jaccard_pairs") as sp:
        ng = ngram_jaccard_pairs(c.docs, n=NGRAM["n"], threshold=NGRAM["threshold"],
                                 n_docs=c.n_docs)
        tr.plan(sp, ng)
        ngpdf = ng.select("id_a", "id_b", "jaccard").toPandas()
    wall = time.perf_counter() - t0

    got = {(int(x), int(y)): float(j) for x, y, j in
           zip(pairs["sig_id_a"], pairs["sig_id_b"], pairs["jaccard"])}
    fails = check_pairs("compare_all_pairs", got, c.compare_ref, COMPARE_THRESHOLD)
    # greedy gather opens with the signature of largest overlap and ends
    # with every query hash covered by a match
    for q in c.queries:
        qh = np.asarray(q["hashes"], dtype=np.int64)
        rows = gpdf[gpdf["query_id"] == q["query_id"]].sort_values("gather_result_rank")
        best = max(len(np.intersect1d(qh, h)) for h in c.hashes.values())
        first = len(np.intersect1d(qh, c.by_md5[rows["md5"].iloc[0]])) if len(rows) else 0
        covered = np.concatenate(
            [np.asarray(c.by_md5[m], dtype=np.int64) for m in rows["md5"]]
        ) if len(rows) else np.empty(0, np.int64)
        if first != best or len(np.setdiff1d(qh, covered)):
            fails.append(f"multigather query {q['query_id']} disagrees with numpy")
    ng_got = {(int(x), int(y)): float(j) for x, y, j in
              zip(ngpdf["id_a"], ngpdf["id_b"], ngpdf["jaccard"])}
    fails += check_pairs("ngram_jaccard_pairs", ng_got, c.ngram_ref, NGRAM["threshold"])

    res = {
        "wall_s": wall, "n_inputs": len(c.hashes),
        "input_bytes": c.meta["input_bytes"], "stored_bytes": dir_bytes(c.sig_path),
        "fails": fails,
        "outputs": {
            "compare": digest(sorted((a, b, round(j, 12)) for (a, b), j in got.items())),
            "gather": digest(sorted(zip(gpdf["query_id"].astype(int),
                                        gpdf["gather_result_rank"].astype(int),
                                        gpdf["md5"]))),
            "ngram": digest(sorted((a, b, round(j, 12)) for (a, b), j in ng_got.items())),
        },
        "layer": {"compare.compare_all_pairs.pass_ratio":
                  len(got) / max(len(c.compare_ref), 1)},
    }
    return res


# ------------------------------------------------------------- quality_filter

def quality_filter(ctx, it: int) -> dict:
    from jobs import quality_filter_job

    cdir = corpus_dir(ctx, "quality_filter")
    meta = read_meta(cdir)
    out_dir = os.path.join(ctx.work, f"qf-{it}")
    argv = [
        "--input", os.path.join(cdir, "docs.parquet"), "--output", out_dir,
        "--benchmark", os.path.join(cdir, "bench.parquet"),
        "--ngram", str(QF_ARGS["ngram"]),
        "--segment-min-df", str(QF_ARGS["segment_min_df"]),
        "--substring-min-len", str(QF_ARGS["substring_min_len"]),
        "--redact-pii",
    ]
    ctx.live_spark()
    summary, wall, layer = run_job(ctx, "jobs.quality_filter_job", quality_filter_job.main, argv)

    filtered = read_table(os.path.join(out_dir, "filtered.parquet"), ["doc_id", "text"])
    lineage = read_table(os.path.join(out_dir, "lineage.parquet"))
    fails = []
    out_ids = set(filtered["doc_id"].astype(int))
    staged = {s: set(g["doc_id"].astype(int)) for s, g in lineage.groupby("stage")}
    if summary["n_in"] != meta["n_docs"] or summary["n_out"] != len(filtered):
        fails.append("job summary disagrees with its input/output tables")
    if staged.get("exact_dup", set()) != set(meta["exact_dup_drop"]):
        fails.append("exact_dup drops != md5-group reference")
    if out_ids & set(meta["exact_dup_drop"]):
        fails.append("a non-canonical exact copy survived")
    if out_ids & set(meta["contaminated"]):
        fails.append("a document holding a benchmark passage survived")
    texts = list(filtered["text"])
    leaked = [p for p in meta["pii"] if any(p in t for t in texts)]
    if leaked:
        fails.append(f"planted PII survived: {leaked}")
    dropped_before_segments = set().union(
        *(staged.get(s, set()) for s in ("exact_dup", "gopher_quality", "decontaminate"))
    )
    docs = read_table(os.path.join(cdir, "docs.parquet"))
    holders = [
        i for i, t in zip(docs["doc_id"], docs["text"])
        if meta["segment_line"] in t.split("\n") and int(i) not in dropped_before_segments
    ]
    if len(holders) >= QF_ARGS["segment_min_df"] and any(
        meta["segment_line"] in t.split("\n") for t in texts
    ):
        fails.append("the repeated boilerplate line survived segment removal")
    if sum(meta["phrase"] in t for t in texts) > 1:
        fails.append("a repeated long phrase survived in more than one document")
    res = {
        "wall_s": wall, "n_inputs": meta["n_docs"],
        "input_bytes": meta["input_bytes"], "stored_bytes": dir_bytes(out_dir),
        "fails": fails,
        "outputs": {
            "summary": {k: v for k, v in summary.items() if k != "wall_sec"},
            "filtered": digest(sorted(zip(filtered["doc_id"].astype(int), texts))),
            "lineage": digest(sorted(
                zip(lineage["stage"], lineage["doc_id"].astype(int))
            )),
        },
        "layer": layer,
    }
    if ctx.trace and it == ctx.warmups:
        quality_probes(ctx, cdir)
    return res


def quality_probes(ctx, cdir) -> None:
    """Each operator the quality job chains, alone, over the quality
    corpus, into a no-op sink.  ``ngram_jaccard_pairs`` is timed in
    compare_gather instead."""
    from sourmash_spark.operators import dedup as dd
    from sourmash_spark.operators import pii, text

    spark, tr = ctx.live_spark(), ctx.tracer
    docs = spark.read.parquet(os.path.join(cdir, "docs.parquet"))
    bench = spark.read.parquet(os.path.join(cdir, "bench.parquet"))
    ops = [
        ("dedup.exact_dedup_ids", lambda: dd.exact_dedup_ids(docs)),
        ("text.gopher_quality", lambda: text.gopher_quality(docs)),
        ("text.decontaminate",
         lambda: text.decontaminate(docs, bench, n=QF_ARGS["ngram"])),
        ("dedup.repeated_segment_removal",
         lambda: dd.repeated_segment_removal(docs, min_df=QF_ARGS["segment_min_df"])),
        ("dedup.exact_substring_removal",
         lambda: dd.exact_substring_removal(
             docs, min_len=QF_ARGS["substring_min_len"], keep="first")),
        ("pii.redact_pii", lambda: pii.redact_pii(docs)),
    ]
    for name, build in ops:
        with tr.span(name) as sp:
            df = build()
            tr.plan(sp, df)
            df.write.format("noop").mode("overwrite").save()


WORKLOADS = {"dedup_batch": dedup_batch, "dedup_ingest": dedup_ingest,
             "compare_gather": compare_gather, "quality_filter": quality_filter}
PREPARE = {"dedup_ingest": prepare_ingest, "compare_gather": prepare_compare}
# untimed, checked iterations before the timed loop.  The dedup workloads
# have none: their jobs are timed cold, as a spark-submit runs them.  compare_gather's
# first iteration over its inputs runs ~2x slower than later ones (code
# generation, class loading, JIT), and its second ~1.3x slower after a
# warm-up over a slice of the inputs, so the warm-up is a whole iteration.
WARMUPS = {"compare_gather": 1}
