"""Seeded inputs. The same seed gives byte-identical files; the program only
ever sees the files.

- html web pages for ``extract`` (batch call and stream drain) come from
  the program's own generator ``datagen.synth.gen_documents(n, seed)``
  (size classes up to 40 pages per doc), in a seed-shuffled order;
- the ``documents`` and ``embeddings`` tables for ``corpus``
  are generated here with the shape of the sf0.1 tables:
  a 30-word vocabulary, 10-100 words per doc, about 41% of docs English,
  20 round-robin sources, 5% near-duplicate docs (an earlier original text
  plus " dup"), and 64-dim unit vectors around 10 weak label centres with
  5% near-duplicates of earlier original vectors. Duplicates copy only
  originals, so near-duplicate clusters are stars whose shape does not
  change with the seed.
"""

from __future__ import annotations

import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_SHARE = 0.05
EMBED_DIM = 64
N_LABELS = 10

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMBEDDINGS_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)


def html_pages(n_docs: int, seed: int) -> list[dict]:
    """Web-page rows (url, warc_ts, html, text, lang) in a seeded order."""
    from deepseek_ocr_spark.datagen.synth import gen_documents

    rows = gen_documents(n_docs, seed)
    random.Random(f"order:{seed}").shuffle(rows)
    return rows


def write_pages(rows: list[dict], out_dir: Path, n_files: int) -> None:
    """Split ``rows`` into ``n_files`` parquet files of about equal html
    bytes: largest first, each row goes to the file with the fewest bytes so
    far, and rows keep their order within a file. The largest file sets the
    time of the extraction stage; split into contiguous halves instead, the
    larger half held up to 11% more html than the mean, by seed."""
    out_dir.mkdir(parents=True, exist_ok=True)
    sizes = [len(r["html"]) for r in rows]
    load = [0] * n_files
    members: list[list[int]] = [[] for _ in range(n_files)]
    for i in sorted(range(len(rows)), key=lambda i: -sizes[i]):
        f = min(range(n_files), key=lambda f: load[f])
        load[f] += sizes[i]
        members[f].append(i)
    for f in range(n_files):
        chunk = [rows[i] for i in sorted(members[f])]
        pq.write_table(
            pa.Table.from_pylist(chunk, schema=PAGES_SCHEMA),
            out_dir / f"part-{f:05d}.parquet",
        )


def documents_table(n_docs: int, seed: int) -> pa.Table:
    rng = random.Random(f"documents:{seed}")
    texts: list[str] = []
    originals: list[int] = []
    langs: list[str] = []
    for i in range(n_docs):
        if originals and rng.random() < DUP_SHARE:
            text = texts[rng.choice(originals)] + " dup"
        else:
            originals.append(i)
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(text)
        langs.append(rng.choices(LANGS, LANG_WEIGHTS)[0])
    return pa.Table.from_pydict(
        {
            "doc_id": list(range(n_docs)),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        },
        schema=DOCUMENTS_SCHEMA,
    )


def embeddings_table(n_vectors: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 7])
    centres = rng.standard_normal((N_LABELS, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_vectors)
    vecs = 0.07 * centres[labels] + rng.standard_normal((n_vectors, EMBED_DIM)) / 8
    originals = [0]
    for i in range(1, n_vectors):
        if rng.random() < DUP_SHARE:
            vecs[i] = vecs[originals[rng.integers(0, len(originals))]] + rng.standard_normal(EMBED_DIM) / 200
        else:
            originals.append(i)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.Table.from_pydict(
        {
            "vec_id": list(range(n_vectors)),
            "embedding": [row.tolist() for row in vecs.astype(np.float32)],
            "label": labels.astype(np.int32),
        },
        schema=EMBEDDINGS_SCHEMA,
    )


def write_table(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)
