"""Seeded benchmark inputs, materialized once per (seed, size) and cached
in the work directory, outside every timed region.

The engine only ever sees the parquet files written here. Generation
time and the pure-Python oracle's checksum (the referee for the
extraction workloads) are computed once, when the input is written, and
stored beside it in ``meta.json``.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

# the per-turn checksum of bench_scaling.py: Σ md5-int60 over
# conv_id|turn_idx|extracted_text|chars_emitted
CHECK_EXPR = (
    "conv(substring(md5(concat_ws('|', conv_id, turn_idx, extracted_text, "
    "chars_emitted)), 1, 15), 16, 10)"
)


def turn_checksum(conv_id: str, turn_idx: int, text: str, chars: int) -> int:
    key = f"{conv_id}|{turn_idx}|{text}|{chars}"
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def payload(text: str | None, tool: str | None) -> str:
    return text if text else (tool or "")


def _cached(cache: str) -> tuple[str, dict | None]:
    """(data directory, its metadata or None when not yet complete).
    The metadata is written last, so its presence marks a whole input."""
    data = os.path.join(cache, "data")
    try:
        with open(os.path.join(cache, "meta.json")) as f:
            return data, json.load(f)
    except (OSError, ValueError):
        shutil.rmtree(cache, ignore_errors=True)
        os.makedirs(data)
        return data, None


def _write_meta(cache: str, meta: dict) -> None:
    with open(os.path.join(cache, "meta.json"), "w") as f:
        json.dump(meta, f)


def transcripts(work: str, seed: int, n_convs: int, n_files: int) -> tuple[str, dict]:
    """Parquet directory of ``datagen`` transcripts for ``seed``, split
    into ``n_files`` equal files, plus its metadata: n_turns, bytes,
    files, payload-class mix, generation and oracle times, and the
    oracle checksum."""
    from yomitoku_spark import oracle
    from yomitoku_spark.datagen import transcripts_pdf

    cache = os.path.join(work, "inputs", f"transcripts-s{seed}-c{n_convs}-f{n_files}")
    path, meta = _cached(cache)
    if meta is not None:
        return path, meta

    t0 = time.perf_counter()
    pdf = transcripts_pdf(n_convs=n_convs, seed=seed)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # the same logical type Spark writes for a session-zone timestamp
    ts = table.schema.get_field_index("ts")
    table = table.set_column(ts, "ts", table["ts"].cast(pa.timestamp("us", tz="UTC")))
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    checksum = 0
    mix: collections.Counter = collections.Counter()
    for conv_id, turn_idx, text, tool in zip(pdf.conv_id, pdf.turn_idx, pdf.text, pdf.tool):
        r = oracle.extract_payload(text, tool)
        checksum += turn_checksum(conv_id, turn_idx, r["extracted_text"], r["chars_emitted"])
        mix[oracle.classify_payload(payload(text, tool))] += 1
    oracle_s = time.perf_counter() - t0

    meta = {
        "seed": seed,
        "n_convs": n_convs,
        "n_turns": len(pdf),
        "files": n_files,
        "bytes": sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        ),
        "mix": dict(sorted(mix.items())),
        "gen_s": gen_s,
        "oracle_s": oracle_s,
        "oracle_checksum": str(checksum),
    }
    _write_meta(cache, meta)
    return path, meta


# The registry's reference documents tables (sf0.001 and sf0.01: 500
# rows, sf0.1: 5000) share one shape, measured on them: 10–100 words
# per document, uniform (sf0.1 mean 54.1, sd 25.7), drawn uniformly
# from these 30 words; exactly one document in twenty is another
# document's text plus " dup"; lang is en for 41 % and zh, es, fr, de
# for about 15 % each; source is src<doc_id mod 20>; n_chars = len(text).
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_WEIGHTS = [41, 15, 15, 15, 14]
DUP_EVERY = 20


def documents(work: str, n_docs: int) -> tuple[str, dict]:
    """Directory holding a ``documents.parquet`` with the shape of the
    registry's reference tables (doc_id, text, lang, source, n_chars;
    see the figures above). The content is fixed (its own seed), as the
    reference tables are."""
    cache = os.path.join(work, "inputs", f"documents-d{n_docs}")
    path, meta = _cached(cache)
    if meta is not None:
        return path, meta
    t0 = time.perf_counter()
    rng = random.Random(42)
    texts = [
        " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n_docs)
    ]
    for i in rng.sample(range(n_docs), n_docs // DUP_EVERY):
        j = rng.randrange(n_docs - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choices(_LANGS, _LANG_WEIGHTS, k=n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    f = os.path.join(path, "documents.parquet")
    pq.write_table(table, f)
    meta = {
        "n_docs": n_docs,
        "bytes": os.path.getsize(f),
        "files": 1,
        "gen_s": time.perf_counter() - t0,
    }
    _write_meta(cache, meta)
    return path, meta
