"""Seeded benchmark inputs, cached on disk per (workload, size, seed).

Both corpora start from ``sourmash_spark.synth.synth_code_files`` and add
benchmark-side planting whose expected outcome is known without running
the code under test:

* dedup: the synth clone families as they are; the required pairs are the
  planted exact copies and 0.5% clones whose true k=21 shingle jaccard
  (computed here with numpy, not by the sketch code) is at least
  ``REQUIRED_JACCARD``.
* quality: families of three 3-5 KB code files (base, exact copy, 2%
  clone).  Four families in five are reshaped into word documents that
  pass the Gopher rules; the rest stay raw code and fail them.  Plus
  planted exact copies, a boilerplate line repeated across documents, a
  long repeated phrase, benchmark passages and PII strings.  Every planted
  count is fixed and the length range is narrow, so input volume and the
  work each stage gets vary little from seed to seed.
* quality, fixed plant: an AWS key line directly followed by the second
  copy of a >= 200-char span.  With keep-first substring removal the job
  cuts that copy and glues the next word onto the key, so ``redact_pii``'s
  ``\b`` pattern misses it and the key survives.  The plant is on every
  seed, so the quality check fails until the job is fixed.

Generation is load generation, not set-up: the output is written once per
seed with pyarrow (no Spark) and read back by later runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# cached corpora live under a directory named after this file's content,
# so editing the generator never reuses stale inputs
with open(__file__, "rb") as _f:
    VERSION = hashlib.sha256(_f.read()).hexdigest()[:12]
KSIZE = 21
REQUIRED_JACCARD = 0.75

# Quality-filter plants.  The segment line and phrase are made of words
# that the synth grammar never emits, so they cannot occur by chance.
SEGMENT_LINE = "autogenerated stub please regenerate through the toolchain wrapper"
PHRASE = (
    "notice this module mirrors the upstream reference implementation "
    "faithfully and every deviation must be reviewed by maintainers before "
    "release because downstream consumers rely on byte identical behaviour "
    "across platforms compilers and interpreter versions everywhere"
)
# the repeated span of the fixed glued-key plant; its words, too, are
# never emitted by the synth grammar
GLUE_SPAN = (
    "provenance ledger entries are appended by the release robot after each "
    "signed artifact upload and mirrored nightly into the archival bucket so "
    "auditors can reconstruct which toolchain produced which binary without "
    "contacting the original packaging team"
)
PASSAGE_WORDS = 20
# benchmark passages draw from words the synth grammar never emits, so a
# passage marks exactly the documents it was planted in
PASSAGE_VOCAB = (
    "zephyr quasar nebula lantern harbor meadow falcon glacier orchard "
    "velvet compass summit ember tundra prairie cobalt saffron willow "
    "thistle beacon canyon delta fjord grove"
).split()


# shingles are compared by a 64-bit polynomial hash of their bytes (numpy
# wraps uint64 arithmetic mod 2**64): 5x faster than Python sets of
# substrings, and two distinct shingles of one pair sharing a hash is a
# ~1e-12 event
_POWERS = np.uint64(1099511628211) ** np.arange(KSIZE - 1, -1, -1, dtype=np.uint64)


def _shingles(text: str) -> np.ndarray:
    b = np.frombuffer(text.encode(), dtype=np.uint8).astype(np.uint64)
    if len(b) < KSIZE:
        return np.empty(0, np.uint64)
    return np.unique(np.lib.stride_tricks.sliding_window_view(b, KSIZE) @ _POWERS)


def _true_jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    if not len(sa) or not len(sb):
        return 0.0
    return len(np.intersect1d(sa, sb, assume_unique=True)) / len(np.union1d(sa, sb))


def _shape(text: str) -> str:
    """Drop whitespace tokens without a letter, so code reads as words."""
    return "\n".join(
        " ".join(t for t in line.split(" ") if re.search("[A-Za-z]", t))
        for line in text.split("\n")
    )


def _write_atomic(dirpath: str, tables: dict[str, pa.Table], meta: dict) -> None:
    tmp = dirpath + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, name))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(dirpath, ignore_errors=True)
    os.rename(tmp, dirpath)


def dedup_corpus(cache_dir: str, seed: int, n_base: int) -> str:
    """Directory holding ``files.parquet`` and ``meta.json`` (required pairs)."""
    out = os.path.join(cache_dir, f"dedup-b{n_base}-s{seed}")
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    from sourmash_spark.synth import synth_code_files

    corpus = synth_code_files(n_base=n_base, seed=seed)
    files = corpus.code_files
    content = dict(zip(files["file_id"], files["content"]))
    tp = corpus.truth_pairs
    planted = tp[tp["mutation_rate"] <= 0.005]
    required = []
    for a, b in zip(planted["file_id_a"], planted["file_id_b"]):
        # the sketch hashes the upper-cased bytes (moltype "code")
        j = _true_jaccard(content[a].upper(), content[b].upper())
        if j >= REQUIRED_JACCARD:
            required.append([int(a), int(b)])
    meta = {
        "n_files": len(files),
        "input_bytes": int(sum(len(c.encode()) for c in files["content"])),
        "n_planted_pairs": len(planted),
        "required_pairs": required,
    }
    _write_atomic(out, {"files.parquet": pa.Table.from_pandas(files, preserve_index=False)}, meta)
    return out


def quality_corpus(cache_dir: str, seed: int, n_base: int) -> str:
    """Directory holding ``docs.parquet``, ``bench.parquet`` and ``meta.json``
    (the planted strings and ids the output check looks for)."""
    out = os.path.join(cache_dir, f"quality-b{n_base}-s{seed}")
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    from sourmash_spark.synth import synth_code_files

    rng = np.random.default_rng([seed, 7919])
    corpus = synth_code_files(n_base=n_base, seed=seed, dup_rates=(0.0, 0.02),
                              min_len=3000, max_len=5000)
    texts = list(corpus.code_files["content"])
    n = len(texts)
    family = np.asarray(corpus.truth_clusters["cluster_id"])
    shaped = ~np.isin(family, rng.choice(n_base, size=n_base // 5, replace=False))
    texts = [_shape(t) if s else t for t, s in zip(texts, shaped)]

    def insert_line(t: str, line: str) -> str:
        lines = t.split("\n")
        lines.insert(int(rng.integers(1, len(lines))), line)
        return "\n".join(lines)

    shaped_ids = np.flatnonzero(shaped)
    for i in rng.choice(shaped_ids, size=max(4, n // 8), replace=False):
        texts[i] = insert_line(texts[i], SEGMENT_LINE)
    for i in rng.choice(shaped_ids, size=max(3, n // 12), replace=False):
        lines = texts[i].split("\n")
        k = int(rng.integers(0, len(lines)))
        lines[k] = lines[k] + " " + PHRASE
        texts[i] = "\n".join(lines)

    def aws_key() -> str:
        return "AKIA" + "".join(
            rng.choice(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"), size=16)
        )

    pii = []
    for i in rng.choice(n, size=max(3, n // 6), replace=False):
        user = f"dev{int(rng.integers(10**5, 10**6))}"
        ip = ".".join(str(int(x)) for x in rng.integers(1, 255, size=4))
        key = aws_key()
        texts[i] = insert_line(
            texts[i], f"maintainer {user}@example.org host {ip} key {key}"
        )
        pii += [f"{user}@example.org", ip, key]

    def norm_words(t: str) -> str:
        return " " + " ".join(t.lower().split()) + " "

    passages = []
    passage_ids = rng.choice(shaped_ids, size=3, replace=False)
    for i in passage_ids:
        passages.append(" ".join(rng.choice(PASSAGE_VOCAB, size=PASSAGE_WORDS)))
        texts[i] = insert_line(texts[i], passages[-1])

    # the glued-key plant: the first copy of the span follows a '.', so
    # the duplicated region starts at the newline after the key, and the
    # second copy runs straight into a word, so it ends before that word.
    # Both documents pass Gopher and hold no benchmark passage, so both
    # reach the substring stage.
    pool = np.setdiff1d(shaped_ids, passage_ids)
    first, second = sorted(int(i) for i in rng.choice(pool, size=2, replace=False))
    texts[first] = insert_line(texts[first], f"release notes follow.\n{GLUE_SPAN}")
    key = aws_key()
    texts[second] = insert_line(texts[second], f"deploy key {key}\n{GLUE_SPAN}ble stable")
    pii.append(key)

    ids = list(range(n))
    copies = []
    for i in rng.choice(n, size=max(2, n // 20), replace=False):
        copies.append([int(i), len(ids)])
        ids.append(len(ids))
        texts.append(texts[i])

    # reference over the whole input: every exact-duplicate group keeps
    # its lowest id and drops the rest
    by_md5: dict[str, list[int]] = {}
    for i, t in zip(ids, texts):
        by_md5.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(i)
    dup_drop = sorted(i for g in by_md5.values() for i in g if i != min(g))
    contaminated = sorted(
        i for i, t in zip(ids, texts)
        if any(norm_words(p) in norm_words(t) for p in passages)
    )
    meta = {
        "n_docs": len(ids),
        "input_bytes": int(sum(len(t.encode()) for t in texts)),
        "planted_copies": copies,
        "exact_dup_drop": dup_drop,
        "contaminated": contaminated,
        "pii": pii,
        "segment_line": SEGMENT_LINE,
        "phrase": PHRASE,
    }
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts})
    bench = pa.table({
        "bench_id": pa.array(range(len(passages)), pa.int64()),
        "text": passages,
    })
    _write_atomic(out, {"docs.parquet": docs, "bench.parquet": bench}, meta)
    return out
