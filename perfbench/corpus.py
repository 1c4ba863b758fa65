"""The corpus the batch and serving workloads run on, and the expected
results every one of their operations is checked against.

The corpus has the shape of the repository's synthetic ``documents`` and
``embeddings`` tables: whitespace text over a 30-word vocabulary with
planted exact and near duplicates, and unit vectors in ten clusters. It is
generated from a fixed seed, so it is identical in every checkout and the
DuckDB results computed from it can be cached. The cache key is the
sha256 of the corpus files plus the SQL text, so a change to either
recomputes the expectation instead of reusing a stale one.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240611
N_DOCS = 1000
N_VECS = 1000
DIM = 64
N_LABELS = 10
NEAR_DUP_PAIRS = 50
EXACT_DUP_PAIRS = 2

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

# The tokenizer of the BM25 oracle: lower-case, split on whitespace, drop
# empty tokens.
DUCK_TOKENS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"

NORMALIZED_SQL = """
SELECT vec_id,
       list_transform(embedding::DOUBLE[],
         x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[]))) AS ne
FROM read_parquet('{path}')
ORDER BY vec_id
"""


def _write(table: pa.Table, path: Path) -> None:
    tmp = path.with_suffix(".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _documents(rng: np.random.Generator) -> pa.Table:
    texts = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(10, 101))))
        for _ in range(N_DOCS)
    ]
    ids = rng.permutation(N_DOCS)
    pairs = ids[: 2 * (NEAR_DUP_PAIRS + EXACT_DUP_PAIRS)].reshape(-1, 2)
    for k, (a, b) in enumerate(pairs):
        texts[b] = texts[a] + (" dup" if k < NEAR_DUP_PAIRS else "")
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, size=N_DOCS, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, size=N_VECS)
    vecs = centers[labels] + 0.6 * rng.normal(size=(N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def ensure_corpus(cache: Path) -> Path:
    """Write the corpus under ``cache/corpus`` once; return that directory."""
    out = cache / "corpus"
    docs, embs = out / "documents.parquet", out / "embeddings.parquet"
    if docs.exists() and embs.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    _write(_documents(rng), docs)
    _write(_embeddings(rng), embs)
    return out


def _digest(corpus: Path, sql: str) -> str:
    h = hashlib.sha256()
    for name in ("documents.parquet", "embeddings.parquet"):
        h.update((corpus / name).read_bytes())
    h.update(sql.encode())
    return h.hexdigest()[:24]


def duck_connect(corpus: Path):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{corpus / (name + '.parquet')}')"
        )
    return con


def expected(cache: Path, corpus: Path, name: str, sql: str) -> pd.DataFrame:
    """DuckDB result of ``sql`` over the corpus, cached by content digest."""
    path = cache / "expected" / f"{name}-{_digest(corpus, sql)}.parquet"
    if path.exists():
        return pd.read_parquet(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    con = duck_connect(corpus)
    try:
        table = con.execute(sql).arrow()
    finally:
        con.close()
    _write(table, path)
    return table.to_pandas()


def normalized_vectors(cache: Path, corpus: Path) -> dict[int, list[float]]:
    """Unit-normalized query vectors, computed by DuckDB (not the program)."""
    sql = NORMALIZED_SQL.format(path=corpus / "embeddings.parquet")
    df = expected(cache, corpus, "normalized", sql)
    return {int(i): [float(x) for x in v] for i, v in zip(df["vec_id"], df["ne"])}


def bm25_sql(terms: list[str], k1: float, b: float, topk: int) -> str:
    """Okapi BM25 top-k over the documents view for ``terms``, written from
    the formula: idf = ln((N - df + 0.5) / (df + 0.5) + 1), score = sum of
    idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)), rounded to
    4 places, ties broken by doc_id."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents
    ), dl AS (
      SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
      WHERE term IN ({in_list}) GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({k1} + 1.0))
               / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / s.avgdl))
             ), 4) AS score,
             count(*)::BIGINT AS n_terms
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score, n_terms FROM scored
    ORDER BY score DESC, doc_id LIMIT {topk}
    """

