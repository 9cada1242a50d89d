"""Seeded inputs. The engine only ever sees the files written here.

Transcripts come from the engine's own ``generator.make_transcripts_fast``
and are written in event-time order by ``write_transcripts_parquet``.
The documents table for the registry workload is drawn from the
distribution of the driver's sf0.1 ``documents.parquet`` (5000 rows),
which the benchmark cannot read because it reads only its checkout:
its 30-word vocabulary, uniform word choice, 10 to 99 words a document,
its language shares, ``source`` cycling through 20 values, and 5% of
documents overwritten by a copy of another one with `` dup`` appended.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from logeventprocessor_spark.generator import (
    make_transcripts_fast,
    write_transcripts_parquet,
)

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def transcript_args(cfg: dict, seed: int, n_convs: int | None = None) -> dict:
    return {
        "n_convs": n_convs or cfg["n_convs"],
        "mean_turns": cfg["mean_turns"],
        "seed": seed,
        "n_skewed": cfg["n_skewed"],
        "skew_factor": cfg["skew_factor"],
    }


def write_stream_input(args: dict, n_files: int, out_dir: str) -> pd.DataFrame:
    pdf = make_transcripts_fast(**args)
    write_transcripts_parquet(pdf, out_dir, n_files=n_files)
    return pdf


def live_args(stream_cfg: dict, live_cfg: dict, seed: int, n_files: int) -> dict:
    turns = n_files * live_cfg["turns_per_file"]
    # enough conversations for the truncated corpus, ~48 turns each
    n_convs = max(50, turns // stream_cfg["mean_turns"] + 1)
    return {**transcript_args(stream_cfg, seed, n_convs), "n_turns": turns}


def write_live_input(args: dict, n_files: int, out_dir: str) -> pd.DataFrame:
    """The first ``n_turns`` turns in event time, as ``n_files`` equal
    slices (``turns_0000.parquet`` ...) to be published one by one."""
    gen = {k: v for k, v in args.items() if k != "n_turns"}
    pdf = make_transcripts_fast(**gen)
    pdf = (
        pdf.sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
        .head(args["n_turns"])
        .reset_index(drop=True)
    )
    write_transcripts_parquet(pdf, out_dir, n_files=n_files)
    return pdf


def document_args(cfg: dict, seed: int) -> dict:
    return {"n_docs": cfg["n_docs"], "dup_share": cfg["dup_share"], "seed": seed}


def write_documents(args: dict, sf_dir: str) -> pd.DataFrame:
    """The duplicates are made in turn, so a copy can be copied again or
    overwritten, as in sf0.1, where 7 of the 250 copies have lost their
    original and 8 texts occur twice."""
    rng = np.random.RandomState(args["seed"])
    n = args["n_docs"]
    texts = [" ".join(rng.choice(VOCAB, rng.randint(10, 100))) for _ in range(n)]
    for i in rng.choice(n, round(n * args["dup_share"]), replace=False):
        j = rng.randint(0, n - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pdf.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    return pdf
