"""Seeded inputs and their references, cached per (workload, seed).

Everything is generated before Spark starts, in this one process, and
written under ``.perfbench/cache/<workload>-<seed>/`` in the checkout;
a later run with the same workload and seed reuses it. The engine only
ever sees the parquet files written here.

- pages corpora come from the engine's own fixture generator
  (``fixtures.gen_doc``), whose splice log yields the golden windows
  (``fixtures.golden_windows``) without running the detector;
- the ``documents`` table (testdata schema) has planted near-duplicate
  chains; its reference is the DuckDB oracle SQL, run in the workload.
"""

from __future__ import annotations

import dataclasses
import json
import os
import random
import shutil

import pandas as pd

from watermark_detector_spark.fixtures import (
    SCORE_THRESHOLD,
    FixtureConfig,
    _domains,
    _flush_doc,
    _window_start,
    gen_doc,
    golden_windows,
)

CACHE = os.path.join(".perfbench", "cache")

# CC-like pages: 200-500 words (~3 kB of HTML), 100 signatures, 500 Zipf domains
PAGE_SHAPE = dict(n_domains=500, n_sigs=100, min_words=200, max_words=500)
BATCH_DOCS = 4000
BATCH_FILES = 8
STREAM_DOCS_PER_FILE = 150
STREAM_FILE_SPAN_S = 120  # event time covered by one stream file
DEDUP_DOCS = 500

_PAGE_COLS = ["url", "warc_ts", "html", "lang"]


def _cached(workload: str, seed: int, build) -> str:
    """Directory holding the inputs; built once per (workload, seed)."""
    root = os.path.join(CACHE, f"{workload}-{seed}")
    if os.path.exists(os.path.join(root, "DONE")):
        return root
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    build(root)
    open(os.path.join(root, "DONE"), "w").close()
    return root


def _write_pages(docs: list[dict], path: str) -> None:
    df = pd.DataFrame([{k: d[k] for k in _PAGE_COLS} for d in docs], columns=_PAGE_COLS)
    df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
    df.to_parquet(path, index=False)


def _write_golden(df: pd.DataFrame, path: str) -> None:
    for c in ("window_start", "window_end"):
        df[c] = df[c].astype("datetime64[us]")
    df.to_parquet(path, index=False)


# ---------------------------------------------------------------------------
# batch_backfill
# ---------------------------------------------------------------------------


def batch_config(seed: int) -> FixtureConfig:
    return FixtureConfig(seed=seed, n_docs=BATCH_DOCS, **PAGE_SHAPE)


def batch_inputs(seed: int) -> str:
    """pages/ (BATCH_FILES parquet files) and golden.parquet
    (golden_windows, late rows included: batch has no watermark)."""
    cfg = batch_config(seed)

    def build(root):
        doms = _domains(cfg)
        docs = [gen_doc(i, cfg, doms) for i in range(cfg.n_docs)]
        os.makedirs(os.path.join(root, "pages"))
        per = -(-len(docs) // BATCH_FILES)
        for f in range(BATCH_FILES):
            _write_pages(docs[f * per:(f + 1) * per],
                         os.path.join(root, "pages", f"part-{f:05d}.parquet"))
        _write_golden(golden_windows(docs, cfg, exclude_late=False),
                      os.path.join(root, "golden.parquet"))

    return _cached("batch_backfill", seed, build)


# ---------------------------------------------------------------------------
# stream_trickle_catchup
# ---------------------------------------------------------------------------


def stream_config(seed: int, n_files: int) -> FixtureConfig:
    """One stream file per fixture batch id, in nominal arrival order.
    STREAM_FILE_SPAN_S keeps every late row (shifted 75 min back) behind
    the watermark even when 16 files share a micro-batch."""
    return FixtureConfig(seed=seed, n_docs=STREAM_DOCS_PER_FILE * n_files,
                         n_batches=n_files, span_s=STREAM_FILE_SPAN_S * n_files,
                         **PAGE_SHAPE)


def _flush_page(cfg: FixtureConfig, doms: list[str]) -> dict:
    """``fixtures._flush_doc`` built on the heaviest signature. The fixture
    splices signature 0, whose detection the score >= 0.5 filter drops
    when it weighs less than 0.5 (about one seed in six): the sentinel
    then never reaches the watermark and the last windows never emit."""
    heaviest = max(cfg.signatures, key=lambda s: s.weight)
    if heaviest.weight < SCORE_THRESHOLD:
        raise ValueError(f"no signature of seed {cfg.seed} scores >= {SCORE_THRESHOLD}")
    return _flush_doc(dataclasses.replace(cfg, signatures=[heaviest]), doms)


def stream_inputs(seed: int, n_files: int) -> str:
    """files/f#####.parquet staged by nominal arrival (fixture batch id,
    as ``fixtures.generate`` stages them — NOT sorted by warc_ts, so late
    rows arrive late), files/flush.parquet (the watermark-advancing
    sentinel), golden.parquet (late rows excluded) and meta.json: docs per
    file and, per file, the late (domain, window) groups — the rows the
    stateful aggregation receives and must drop by watermark."""
    cfg = stream_config(seed, n_files)

    def build(root):
        doms = _domains(cfg)
        docs = [gen_doc(i, cfg, doms) for i in range(cfg.n_docs)]
        os.makedirs(os.path.join(root, "files"))
        n_docs, late_groups = [], []
        for b in range(n_files):
            part = [d for d in docs if d["batch_id"] == b]
            _write_pages(part, os.path.join(root, "files", f"f{b:05d}.parquet"))
            n_docs.append(len(part))
            late_groups.append(sorted({
                (d["domain"], _window_start(d["warc_ts"], cfg.window_s).isoformat())
                for d in part if d["is_late"]
                for s in d["splices"] if s["score"] >= SCORE_THRESHOLD}))
        _write_pages([_flush_page(cfg, doms)],
                     os.path.join(root, "files", "flush.parquet"))
        _write_golden(golden_windows(docs, cfg, exclude_late=True),
                      os.path.join(root, "golden.parquet"))
        with open(os.path.join(root, "meta.json"), "w") as fh:
            json.dump({"n_docs": n_docs, "late_groups": late_groups}, fh)

    return _cached(f"stream_trickle_catchup-{n_files}", seed, build)


# ---------------------------------------------------------------------------
# documents table for the dedup layers
# ---------------------------------------------------------------------------

_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "pe", "du", "ga", "zo"]
_LANGS = ["en", "es", "de", "fr", "pt"]


def dedup_inputs(seed: int) -> str:
    """documents.parquet (doc_id, text, lang, source, n_chars): random
    40-80-word docs over a 1,728-word vocabulary, about one in seven in a
    planted near-duplicate chain (each member rewrites 1-3 words of the
    previous one), doc ids shuffled so chains are not contiguous."""

    def build(root):
        rng = random.Random(seed)
        vocab = [a + b + c for a in _SYL for b in _SYL for c in _SYL]
        texts: list[list[str]] = []
        while len(texts) < DEDUP_DOCS:
            words = [rng.choice(vocab) for _ in range(rng.randint(40, 80))]
            texts.append(words)
            if rng.random() < 0.08:  # start a near-dup chain of 2-4 members
                for _ in range(rng.randint(1, 3)):
                    words = list(words)
                    for _ in range(rng.randint(1, 3)):
                        words[rng.randrange(len(words))] = rng.choice(vocab)
                    texts.append(words)
        texts = texts[:DEDUP_DOCS]
        rng.shuffle(texts)
        rows = [{"doc_id": i, "text": " ".join(w), "lang": rng.choice(_LANGS),
                 "source": f"src{rng.randrange(20)}"} for i, w in enumerate(texts)]
        df = pd.DataFrame(rows)
        df["n_chars"] = df["text"].str.len().astype("int64")
        df.to_parquet(os.path.join(root, "documents.parquet"), index=False)

    return _cached("dedup", seed, build)
