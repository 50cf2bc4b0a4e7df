"""Output oracles and the per-document comparison behind ``failed_share``.

Each timed job sinks a per-document digest instead of its full output:
``xxhash64`` over the compared fields, computed by a projection added on
top of the program's output plan and collected into this process. The oracle's
expected rows are written to parquet with pyarrow, read back by Spark and
digested by the same expression, so both sides hash identical types.

Compared fields:

* extraction (``web_html``, ``mixed_ckpt``, ``binary_files``): doc_id, span
  sequence ``(kind, text, media_ref, order)``, status, failure_reason,
  word_count. The expected rows come from calling the program's kernel
  (``extract_document`` / ``extract_one``) in this one Python process, so
  Spark partitioning, transport and commit paths are what is checked.
* curation (``curate_dedup``): every output chunk ``(doc_id, chunk_no,
  chunk_text, n_words)``. Expected chunks come from the generator's plant:
  short docs are dropped by the quality filter, every duplicate group
  keeps only its smallest id, and survivors are cut into 128-word windows
  with a 96-word stride. ``recorded_outputs.json`` holds, per seed, the
  digest of the output the program produced when the benchmark was
  defined, after checking that it equals this expectation (exceptions, if
  any, are listed there too); for a recorded seed the expectation must
  still reproduce that digest.

A document fails when its output is missing, duplicated or different from
the oracle; a document the oracle also fails (``status='failed'`` with the
same reason) is a correct outcome.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("order", pa.int32()),
        ]
    )
)

EXTRACTED_ORACLE_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("spans", SPAN_TYPE),
        ("status", pa.string()),
        ("failure_reason", pa.string()),
        ("word_count", pa.int32()),
    ]
)

CHUNK_ORACLE_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("chunk_no", pa.int32()),
        ("chunk_text", pa.string()),
        ("n_words", pa.int32()),
    ]
)

CHUNK_WORDS = 128
CHUNK_STRIDE = 96


def _extracted_row(doc_id: str, res: dict) -> dict:
    return {
        "doc_id": doc_id,
        "spans": [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "order": s["order"]}
            for s in res["spans"]
        ],
        "status": res["status"],
        "failure_reason": res["failure_reason"],
        "word_count": res["word_count"],
    }


def extraction_oracle(docs: list[tuple[str, list[dict]]]) -> list[dict]:
    """Expected rows for interleaved docs, from ``extract_document``."""
    from readur_spark.kernels.extractor import extract_document

    return [_extracted_row(doc_id, extract_document(spans)) for doc_id, spans in docs]


def binary_oracle(files: list[tuple[str, str, bytes, str]]) -> list[dict]:
    """Expected rows for binary files, from ``extract_one``."""
    from readur_spark.operators.binary_extract import extract_one

    return [_extracted_row(d, extract_one(d, name, data)) for d, name, data, _ in files]


def chunk_words(text: str) -> list[tuple[int, str, int]]:
    words = text.split()
    n = len(words)
    if n == 0:
        return []
    n_chunks = 1 + max(0, -(-(n - CHUNK_WORDS) // CHUNK_STRIDE))
    return [
        (i, " ".join(words[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_WORDS]), min(n - i * CHUNK_STRIDE, CHUNK_WORDS))
        for i in range(n_chunks)
    ]


def curate_oracle(rows: list[tuple[int, str]], plant: dict) -> list[dict]:
    """Expected output chunks derived from the plant (see module doc)."""
    text = dict(rows)
    out = []
    for gids, is_short in zip(plant["groups"], plant["short"]):
        if is_short:
            continue
        keep = min(gids)
        for chunk_no, chunk_text, n_words in chunk_words(text[keep]):
            out.append({"doc_id": keep, "chunk_no": chunk_no, "chunk_text": chunk_text, "n_words": n_words})
    return out


def write_parquet(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


# --------------------------------------------------------------------------
# Digests
# --------------------------------------------------------------------------


def extracted_digest_df(df):
    """``(doc_id, h)``: one row per output document."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.xxhash64("spans", "status", "failure_reason", "word_count").alias("h"),
    )


def chunk_digest_df(df):
    """``(doc_id, chunk_no, n_words, h)``: one row per output chunk."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("chunk_no").cast("int").alias("chunk_no"),
        F.col("n_words").cast("int").alias("n_words"),
        F.xxhash64("chunk_text").alias("h"),
    )


def collect_digests(digest_df) -> dict[str, list]:
    """doc_id → list of per-row digests (sorted, so row order is free)."""
    out: dict[str, list] = defaultdict(list)
    for row in digest_df.collect():
        out[row[0]].append(tuple(row[1:]))
    for v in out.values():
        v.sort()
    return dict(out)


def output_digest(digests: dict[str, list]) -> str:
    """One sha256 over a run's per-document digests; a document with no
    output rows counts the same as one that is absent."""
    return hashlib.sha256(json.dumps(sorted((k, v) for k, v in digests.items() if v)).encode()).hexdigest()


def recorded_output(workload: str, seed: int) -> str | None:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "recorded_outputs.json")
    with open(path) as f:
        return json.load(f)[workload]["seeds"].get(str(seed))


def compare(got: dict[str, list], want: dict[str, list], one_row_per_doc: bool) -> dict:
    """Per-document comparison. ``want`` holds every attempted doc (an
    empty list for a doc that must produce no rows). Returns counts of
    missing / duplicated / different / unexpected docs and the failed ids."""
    counts: Counter = Counter()
    failed: set[str] = set()
    for doc_id, rows in want.items():
        g = got.get(doc_id, [])
        if g == rows:
            continue
        failed.add(doc_id)
        if rows and not g:
            counts["missing"] += 1
        elif one_row_per_doc and len(g) > 1:
            counts["duplicated"] += 1
        else:
            counts["different"] += 1
    for doc_id in got.keys() - want.keys():
        failed.add(doc_id)
        counts["unexpected"] += 1
    return {"failed": len(failed), "counts": dict(counts), "failed_ids": sorted(failed)[:20]}
