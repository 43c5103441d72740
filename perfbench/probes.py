"""Driver-side probes of the kernels that run inside Python workers.

The tokenizer and the posting encoders run in pandas UDFs, where the
driver's spans cannot see them.  The traced run therefore times them on
the driver over a fixed sample of the workload's own turns and posting
lists: tokenizer throughput, and for each codec the encode and decode
rate and the encoded bytes per posting.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

CODECS = ("vb", "gamma", "raw", "ef", "pfor", "s8b")
SAMPLE_TURNS = 2_000
SAMPLE_TERMS = 40
REPEATS = 3


def _median_time(fn, repeats: int = REPEATS):
    """(median seconds of ``repeats`` calls, the last call's result)"""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times), out


def tokenizer_probe(spark, seed: int) -> dict[str, float]:
    import pandas as pd

    from mircv_project_spark.functions.tokenizer import doc_terms_series
    from workloads import corpus

    texts = pd.Series(
        [r["text"] for r in corpus(spark, SAMPLE_TURNS, seed).select("text").collect()]
    )
    doc_terms_series(texts, True)  # fills the stem memo, as a worker's first batch does
    sec, _ = _median_time(lambda: doc_terms_series(texts, True))
    return {"functions.tokenizer.doc_terms_series.turns_per_s": len(texts) / sec}


def sample_postings(reader) -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Decoded (docids, tfs, dls) of SAMPLE_TERMS terms spread evenly over
    the index's df ranking."""
    from mircv_project_spark.functions import codecs

    lex = sorted((r["df"], r["term"]) for r in reader.lexicon.select("term", "df").collect())
    step = max(1, len(lex) // SAMPLE_TERMS)
    terms = [t for _, t in lex[::step]][:SAMPLE_TERMS]
    out = []
    for tp in reader.fetch(terms).values():
        parts = [codecs.decode_block(b, codec=reader.codec) for b in tp.blocks]
        out.append(tuple(np.concatenate([p[i] for p in parts]) for i in range(3)))
    return out


def codec_probe(lists) -> dict[str, float]:
    from mircv_project_spark.functions import codecs

    n = sum(len(ids) for ids, _, _ in lists)
    out = {}
    for c in CODECS:
        enc_s, encoded = _median_time(
            lambda: [codecs.encode_posting_blocks(*pl, codec=c) for pl in lists]
        )
        dec_s, _ = _median_time(
            lambda: [codecs.decode_block(b, codec=c) for bl in encoded for b in bl]
        )
        nbytes = sum(
            len(b["docids"]) + len(b["tfs"]) + len(b["dls"]) for bl in encoded for b in bl
        )
        out[f"functions.codecs.{c}.encode_mpostings_per_s"] = n / enc_s / 1e6
        out[f"functions.codecs.{c}.decode_mpostings_per_s"] = n / dec_s / 1e6
        out[f"functions.codecs.{c}.bytes_per_posting"] = nbytes / n
    return out


def run(spark, seed: int, reader) -> dict[str, float]:
    return {**tokenizer_probe(spark, seed), **codec_probe(sample_postings(reader))}
