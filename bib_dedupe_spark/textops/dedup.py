"""Large-scale text deduplication operators (training-data pipeline).

All-native Spark plans (no Python UDFs): hashing is md5-based so results
are engine-portable and deterministic; every operator returns a DataFrame
and composes with the record-linkage pipeline. Designed for the 100 TB
path: shingling is an explode (map-side), minhash and simhash are one
partial-aggregable ``groupBy(doc)`` each, and LSH candidates come from a
``groupBy(band, sig)`` — shuffle keys are (band, signature), which salts
naturally because the signature space is wide.

Tokens are the pieces of ``split(text, ' ')``: one space separates two
tokens, and text is taken as is (no case folding, no whitespace
collapsing), the same tokenization as ``string_split(text, ' ')`` in SQL.
The ``harness`` queries call these functions, so their DuckDB oracles pin
the row sets.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# a token hash is its first 4 md5 hex nibbles
SIMHASH_BITS = 16


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Full-content duplicate groups: fingerprint, representative, members."""
    return (
        df.withColumn("fingerprint", F.md5(F.col(text_col)))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("representative"),
            F.count("*").alias("n_copies"),
            F.array_sort(F.collect_list(id_col)).alias("members"),
        )
        .filter(F.col("n_copies") > 1)
    )


def shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct word 3-gram shingles per document (explode, no shuffle).

    Documents with fewer than 3 words have no shingle.
    """
    words = df.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("w")
    ).filter(F.size("w") >= 3)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - 2),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("w"), i + off) for off in range(3)]
        ),
    )
    return words.select(
        "doc", F.explode(F.array_distinct(grams)).alias("shingle")
    )


def minhash_signatures(
    shingled: DataFrame, n_hashes: int = 32
) -> DataFrame:
    """Per-doc minwise md5 hashes ``mh0..mh{n_hashes-1}``.

    One partial-aggregable ``groupBy(doc)`` with one min-aggregate per
    seed: no seed explode, no (doc, seed) shuffle.
    """
    return shingled.groupBy("doc").agg(
        *[
            F.min(F.md5(F.concat_ws("|", F.lit(str(s)), "shingle"))).alias(
                f"mh{s}"
            )
            for s in range(n_hashes)
        ]
    )


def lsh_candidates(
    signatures: DataFrame, n_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """Banded LSH: docs sharing any band signature become candidates.

    A band signature concatenates its rows' minhashes in seed order.
    Pairs come from one ``groupBy(band, sig)``, expanded per bucket
    (bounded by the near-dup group size), instead of a self-join that
    would plan the signature subtree once per side.
    """
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes={n_hashes} does not split into {bands} equal bands"
        )
    rows = n_hashes // bands
    banded = signatures.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat(
                            *[f"mh{b * rows + r}" for r in range(rows)]
                        ).alias("sig"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("doc", "bs.band", "bs.sig")
    groups = (
        banded.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("doc")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        groups.select(F.posexplode("ids").alias("_i", "id1"), "ids")
        .select(
            "id1",
            F.explode(
                F.slice("ids", F.col("_i") + 2, F.size("ids"))
            ).alias("id2"),
        )
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs ``(id1 < id2)``."""
    return lsh_candidates(
        minhash_signatures(shingles(df, text_col, id_col), n_hashes),
        n_hashes,
        bands,
    )


def ngram_jaccard(pairs: DataFrame, shingled: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (integer counts)."""
    counts = shingled.groupBy("doc").agg(F.count("*").alias("n_sh"))
    s1 = shingled.select(F.col("doc").alias("id1"), "shingle")
    s2 = shingled.select(F.col("doc").alias("id2"), "shingle")
    shared = (
        pairs.join(s1, "id1")
        .join(s2, ["id2", "shingle"])
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("shared"))
    )
    c1 = counts.select(F.col("doc").alias("id1"), F.col("n_sh").alias("n1"))
    c2 = counts.select(F.col("doc").alias("id2"), F.col("n_sh").alias("n2"))
    return (
        pairs.join(shared, ["id1", "id2"], "left")
        .fillna({"shared": 0})
        .join(c1, "id1")
        .join(c2, "id2")
        .select(
            "id1",
            "id2",
            "shared",
            (F.col("n1") + F.col("n2") - F.col("shared")).alias("union_size"),
        )
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document 16-bit SimHash bit-string over distinct tokens.

    A token's hash value is its first 4 md5 hex nibbles (one md5 + conv
    per token); the 16 per-bit contribution sums are 16 integer
    aggregates of a single ``groupBy(doc)``, and bit ``j`` is character
    ``j + 1`` of the string.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("t"),
    )
    hv = toks.select(
        "doc",
        F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("int").alias("hv"),
    )
    sums = hv.groupBy("doc").agg(
        *[
            F.sum(
                2 * F.shiftright(F.col("hv"), j).bitwiseAND(F.lit(1)) - 1
            ).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    return sums.select(
        "doc",
        F.concat(
            *[
                F.when(F.col(f"s{j}") > 0, "1").otherwise("0")
                for j in range(SIMHASH_BITS)
            ]
        ).alias("simhash"),
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 2,
    n_blocks: int = 4,
) -> DataFrame:
    """SimHash near-dups via block-permutation candidate join.

    Splits the signature into ``n_blocks`` substrings; two docs within
    ``max_hamming`` must share at least one block when
    ``max_hamming < n_blocks`` (pigeonhole) — the candidate join is an
    equi-join per block, then Hamming distance is verified natively.
    """
    sigs = simhash(df, text_col, id_col)
    block_len = SIMHASH_BITS // n_blocks
    blocked = sigs.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.substring(
                            "simhash", b * block_len + 1, block_len
                        ).alias("key"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("e"),
    ).select("doc", "simhash", F.col("e.blk").alias("blk"), F.col("e.key").alias("key"))
    left = blocked.select(
        F.col("doc").alias("id1"), F.col("simhash").alias("sig1"), "blk", "key"
    )
    right = blocked.select(
        F.col("doc").alias("id2"), F.col("simhash").alias("sig2"), "blk", "key"
    )
    cands = (
        left.join(right, ["blk", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "sig1", "sig2")
        .distinct()
    )
    hamming = F.size(
        F.filter(
            F.zip_with(
                F.split("sig1", ""),
                F.split("sig2", ""),
                lambda a, b: a != b,
            ),
            lambda x: x,
        )
    )
    return cands.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id1", "id2", "hamming")
