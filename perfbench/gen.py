"""Seeded input generators. The same seed gives the same inputs.

All generated text is ASCII, so Java's and Python's ``\\w`` agree and the
pure-Python reference model validates task lines exactly as the engine does.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS = pa.timestamp("us", tz="UTC")


# ---------------------------------------------------------------------------
# pre-populated batch store (orders -> anchors, lineitem -> tasks)
# ---------------------------------------------------------------------------


#: the sf0.1 test data (TESTDATA.md), measured: the number of orders with
#: 1, 2, ... 17 lineitems, and l_returnflag shares
LINES_PER_ORDER = (
    11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407, 1959, 818, 292, 93, 29, 10, 1, 2, 1,
)  # fmt: skip
RETURN_FLAGS = {"R": 0.3334, "A": 0.3331, "N": 0.3335}


def write_store(sf_dir: str, rng: np.random.Generator, n_batches: int) -> dict:
    """Write ``orders.parquet`` and ``lineitem.parquet`` in the engine's
    test-data layout: an order is a finalized batch anchor (o_orderstatus
    'F', o_orderdate -> inception time) and a lineitem is one task outcome
    (l_returnflag 'R' -> task error). Lines per order and return flags
    follow the sf0.1 test data."""
    os.makedirs(sf_dir, exist_ok=True)
    keys = np.arange(1, n_batches + 1, dtype=np.int64)
    # whole-second inception times over two years; ties broken by id
    dates = EPOCH_US + rng.integers(0, 730 * 86_400, n_batches) * 1_000_000
    lines_p = np.array(LINES_PER_ORDER, dtype=float) / sum(LINES_PER_ORDER)
    n_lines = rng.choice(np.arange(1, len(LINES_PER_ORDER) + 1), n_batches, p=lines_p)
    l_orderkey = np.repeat(keys, n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    l_linenumber = (np.arange(len(l_orderkey)) - starts + 1).astype(np.int32)
    flags = list(RETURN_FLAGS)
    l_flag = rng.choice(np.array(flags), len(l_orderkey), p=[RETURN_FLAGS[f] for f in flags])
    pq.write_table(
        pa.table(
            {
                "o_orderkey": keys,
                "o_orderstatus": np.full(n_batches, "F"),
                "o_orderdate": pa.array(dates, type=pa.int64()).cast(TS),
            }
        ),
        f"{sf_dir}/orders.parquet",
    )
    pq.write_table(
        pa.table({"l_orderkey": l_orderkey, "l_linenumber": l_linenumber, "l_returnflag": l_flag}),
        f"{sf_dir}/lineitem.parquet",
    )
    return {"batches": int(n_batches), "tasks": int(len(l_orderkey))}


# ---------------------------------------------------------------------------
# batch_ingest uploads
# ---------------------------------------------------------------------------

#: upload sizes of one tick, up to the reference's 1000-task cap; every
#: tick uploads one file of each size, in a seeded order, so every tick
#: carries the same number of tasks.
TICK_SIZES = (100, 300, 600, 900)
N_MODELS = 50
SHARE_COMMA = 0.03  # lines with too many commas
SHARE_REGEX = 0.03  # lines failing the task pattern
SHARE_DUP_WITHIN = 0.05  # (model, serial) repeated from earlier in the same upload
SHARE_DUP_ACROSS = 0.05  # repeated from an earlier upload
SHARE_DUP_EXISTING = 0.03  # repeated from the pre-existing asset registry
SHARE_EMAIL = 0.5  # uploads that ask for a finalization notification


def write_registry(path: str, rng: np.random.Generator, n_assets: int) -> tuple[set, list]:
    """Pre-existing asset registry (model_name, serial_number); returns all
    its pairs and a sample of them for the generator to collide with."""
    models = np.char.add("Model_", rng.integers(0, N_MODELS, n_assets).astype(str))
    serials = np.char.add("SN-R", np.char.zfill(np.arange(n_assets).astype(str), 7))
    pq.write_table(pa.table({"model_name": models, "serial_number": serials}), path)
    sample = rng.choice(n_assets, min(n_assets, 5000), replace=False)
    pairs = set(zip(models.tolist(), serials.tolist()))
    return pairs, [(str(models[i]), str(serials[i])) for i in sample]


def _bad_regex_line(rng: np.random.Generator, model: str, serial: str, asset: str) -> str:
    kind = int(rng.integers(0, 4))
    if kind == 0:
        return f"{model},{serial},{asset} copy"  # space in the asset name
    if kind == 1:
        return f"{model}#x,{serial},{asset}"  # '#' in the model name
    if kind == 2:
        return f"{model},,{asset}"  # empty serial
    return f"{model},{serial}"  # missing asset field


def uploads(
    rng: np.random.Generator,
    n_ticks: int,
    first_batch_id: int,
    existing: list[tuple[str, str]],
) -> tuple[list[list[dict]], dict]:
    """Uploads grouped into ``n_ticks`` ticks of ``len(TICK_SIZES)`` uploads.

    Each upload is {batch_id, lines, notify_email}. Lines are
    ``model,serial,asset``; a set share is malformed and a set share
    repeats a (model, serial) pair within the upload, across uploads or
    from the existing registry.
    """
    ticks: list[list[dict]] = []
    seen: list[tuple[str, str]] = []
    counts = {"lines": 0, "comma": 0, "regex": 0, "dup_within": 0, "dup_across": 0, "dup_existing": 0}
    batch_id = first_batch_id
    for tick_sizes in [rng.permutation(TICK_SIZES) for _ in range(n_ticks)]:
        ticks.append([])
        for n_lines in map(int, tick_sizes):
            lines, mine = [], []
            for j in range(n_lines):
                r = rng.random()
                model, serial = f"Model_{int(rng.integers(0, N_MODELS))}", f"SN-{batch_id}-{j}"
                if r < SHARE_DUP_WITHIN and mine:
                    model, serial = mine[int(rng.integers(0, len(mine)))]
                    counts["dup_within"] += 1
                elif r < SHARE_DUP_WITHIN + SHARE_DUP_ACROSS and seen:
                    model, serial = seen[int(rng.integers(0, len(seen)))]
                    counts["dup_across"] += 1
                elif r < SHARE_DUP_WITHIN + SHARE_DUP_ACROSS + SHARE_DUP_EXISTING:
                    model, serial = existing[int(rng.integers(0, len(existing)))]
                    counts["dup_existing"] += 1
                asset = f"Asset-{batch_id}-{j}"
                r2 = rng.random()
                if r2 < SHARE_COMMA:
                    line = f"{model},{serial},{asset},props,group"
                    counts["comma"] += 1
                elif r2 < SHARE_COMMA + SHARE_REGEX:
                    line = _bad_regex_line(rng, model, serial, asset)
                    counts["regex"] += 1
                else:
                    line = f"{model},{serial},{asset}"
                mine.append((model, serial))
                lines.append(line)
            seen.extend(mine)
            counts["lines"] += n_lines
            email = f"owner{batch_id}@example.com" if rng.random() < SHARE_EMAIL else None
            ticks[-1].append({"batch_id": batch_id, "lines": lines, "notify_email": email})
            batch_id += 1
    total = max(1, counts["lines"])
    n_uploads = sum(len(t) for t in ticks)
    props = {
        "uploads_generated": n_uploads,
        "tick_sizes": list(TICK_SIZES),
        "mean_upload_lines": total / n_uploads,
        "malformed_comma_share": counts["comma"] / total,
        "malformed_regex_share": counts["regex"] / total,
        "dup_within_share": counts["dup_within"] / total,
        "dup_across_share": counts["dup_across"] / total,
        "dup_existing_share": counts["dup_existing"] / total,
    }
    return ticks, props


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

#: the 30-word vocabulary, the 10-100 words per document, the language mix
#: and the 20 sources of the sf0.1 test data's ``documents`` table, whose
#: ``embeddings`` are unit-norm 64-d vectors labelled 0-9 (TESTDATA.md)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DOC_WORDS = (10, 100)
LANGS = {"en": 0.44, "zh": 0.15, "es": 0.15, "de": 0.14, "fr": 0.12}
N_SOURCES = 20
EMBED_DIM = 64
SHARE_EXACT_DUP = 0.05  # documents that copy an earlier document's text
SHARE_NEAR_DUP = 0.10  # documents that copy one with a few words changed
SHARE_VEC_DUP = 0.10  # vectors that repeat an earlier vector plus small noise
#: registered queries one curation pass runs, in order
CURATION_QUERIES = ("dedup_minhash_lsh", "semantic_dedup", "quality_bands", "pii_redact")


def _dup_rows(rng: np.random.Generator, n: int, share: float, taken: set) -> set:
    """``round(share * n)`` row numbers, none of them 0 nor in ``taken``."""
    free = [i for i in range(1, n) if i not in taken]
    return set(int(i) for i in rng.choice(free, round(share * n), replace=False))


def write_corpus(sf_dir: str, rng: np.random.Generator, n_docs: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one vector
    per document) with injected exact and near duplicates.

    The seed draws the words, the vectors and where the duplicates fall;
    the amount of work does not depend on it: every corpus has the same
    number of exact, near and vector duplicates, and its original documents
    take their lengths from the same evenly spaced list."""
    os.makedirs(sf_dir, exist_ok=True)
    exact_rows = _dup_rows(rng, n_docs, SHARE_EXACT_DUP, set())
    near_rows = _dup_rows(rng, n_docs, SHARE_NEAR_DUP, exact_rows)
    lengths = iter(rng.permutation(np.linspace(DOC_WORDS[0], DOC_WORDS[1], n_docs).round().astype(int)))
    texts: list[str] = []
    for i in range(n_docs):
        n = int(next(lengths))
        if i in exact_rows:
            texts.append(texts[int(rng.integers(0, i))])
        elif i in near_rows:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), min(len(words), int(rng.integers(1, 4))), replace=False):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    langs = list(LANGS)
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": rng.choice(langs, n_docs, p=[LANGS[k] for k in langs]),
                "source": np.char.add("src", (np.arange(n_docs) % N_SOURCES).astype(str)),
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        f"{sf_dir}/documents.parquet",
    )
    vecs = rng.normal(size=(n_docs, EMBED_DIM))
    vec_rows = _dup_rows(rng, n_docs, SHARE_VEC_DUP, set())
    for i in sorted(vec_rows):
        vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.01, size=EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n_docs, dtype=np.int64),
                "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
                "label": rng.integers(0, 10, n_docs).astype(np.int32),
            }
        ),
        f"{sf_dir}/embeddings.parquet",
    )
    return {
        "docs": n_docs,
        "exact_dup_share": len(exact_rows) / n_docs,
        "near_dup_share": len(near_rows) / n_docs,
        "vector_dup_share": len(vec_rows) / n_docs,
    }
