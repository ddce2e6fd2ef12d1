"""Reference answers for the headline queries.

Nine queries are answered by the program's own DuckDB oracle SQL
(``harness.ORACLES``). DuckDB needs ~14 s for ``token_overlap_prune`` at
this size, more than the measured span of a run, so that one is answered
by an independent NumPy computation over word bitmasks instead.
"""
from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

_POPCOUNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def digest_frame(pdf: pd.DataFrame) -> tuple:
    """(sorted columns, row count, order-independent hash, row hashes)."""
    cols = sorted(pdf.columns)
    text = pdf[cols].astype(str) if cols else pdf
    rows = np.sort(pd.util.hash_pandas_object(text, index=False).to_numpy())
    return tuple(cols), len(pdf), hashlib.sha256(rows.tobytes()).hexdigest()[:16], rows


def token_overlap_prune(docs: pd.DataFrame) -> pd.DataFrame:
    words = docs["text"].str.split(" ")
    vocab = {w: i for i, w in enumerate(sorted({w for ws in words for w in ws}))}
    if len(vocab) > 63:
        raise ValueError("bitmask reference needs a vocabulary of at most 63 words")
    masks = np.array(
        [sum(1 << vocab[w] for w in set(ws)) for ws in words], dtype=np.int64
    )
    lengths = words.str.len().to_numpy()
    ids = docs["doc_id"].to_numpy()
    keys = docs["lang"].astype(str) + "|" + (docs["n_chars"] // 100).astype(str)
    frames = []
    for _, idx in docs.groupby(keys.to_numpy()).indices.items():
        idx = idx[np.argsort(ids[idx])]
        a, b = np.triu_indices(len(idx), 1)
        a, b = idx[a], idx[b]
        shared = _POPCOUNT[(masks[a] & masks[b]).view(np.uint8).reshape(-1, 8)].sum(axis=1)
        denom = np.minimum(lengths[a] + 1, lengths[b] + 1)
        keep = 2 * shared >= denom
        frames.append(
            pd.DataFrame(
                {"id1": ids[a][keep], "id2": ids[b][keep], "shared": shared[keep], "denom": denom[keep]}
            )
        )
    return pd.concat(frames, ignore_index=True)


def expected_results(table_dir: str, docs: pd.DataFrame, names: list) -> dict:
    import duckdb

    from bib_dedupe_spark.harness import ORACLES

    out = {}
    with duckdb.connect() as con:
        con.execute("SET threads TO 2")
        for table in ("documents", "embeddings", "events"):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{table_dir}/{table}.parquet')"
            )
        for name in names:
            if name == "token_overlap_prune":
                out[name] = digest_frame(token_overlap_prune(docs))
            else:
                out[name] = digest_frame(con.execute(ORACLES[name]).df())
    return out
