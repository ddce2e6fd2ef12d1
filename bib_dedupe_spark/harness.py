"""Driver-harness query catalog: Spark implementations + DuckDB oracles.

Each entry maps one operator family from SURVEY.md §2 (or a training-data
text/embedding op) onto the driver-provided parquet tables
(documents / embeddings / orders / events). Every Spark query has an
ANSI-SQL oracle with IDENTICAL column names and value derivations, so the
driver's row-count/schema/value-hash comparison is exact. Numeric outputs
are integers or strings wherever engine float formatting could differ.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bib_dedupe_spark.textops import dedup, similarity_search

STOPWORDS = ("the", "a", "of", "and", "in")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _with_tok(docs: DataFrame) -> DataFrame:
    return docs.withColumn("tok", F.element_at(F.split("text", " "), 1))


# ---------------------------------------------------------------- S1/P1/F2

def q_scan_project(spark, sf_dir):
    """Pushdown-friendly scan: filter + projection (S1, P1)."""
    return (
        _docs(spark, sf_dir)
        .filter(F.col("n_chars") > 200)
        .select("doc_id", "lang", "n_chars")
    )


def q_derived_columns(spark, sf_dir):
    """Derived blocking columns: first token, short text, initialism (P3)."""
    docs = _docs(spark, sf_dir)
    words = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.element_at(words, 1).alias("first_tok"),
        F.array_join(F.slice(words, 1, 10), " ").alias("short_text"),
        F.array_join(
            F.transform(F.slice(words, 1, 5), lambda w: F.substring(w, 1, 1)),
            "",
        ).alias("initialism"),
    )


def q_nonempty_key_filter(spark, sf_dir):
    """Non-empty blocking-key pre-filter (F2)."""
    return (
        _with_tok(_docs(spark, sf_dir))
        .filter((F.col("tok") != "") & (F.col("lang") != ""))
        .select("doc_id", "tok", "lang")
    )


# ------------------------------------------------------------------ J1/A1

def _block_pairs(spark, sf_dir):
    keyed = _with_tok(_docs(spark, sf_dir)).select("doc_id", "lang", "tok")
    a = keyed.select(
        F.col("doc_id").alias("id1"), "lang", "tok"
    )
    b = keyed.select(F.col("doc_id").alias("id2"), "lang", "tok")
    return a.join(b, ["lang", "tok"]).filter(F.col("id1") < F.col("id2"))


def q_block_pairs(spark, sf_dir):
    """Blocking self-equi-join pair generation (J1/A1)."""
    return _block_pairs(spark, sf_dir).select("id1", "id2", "lang", "tok")


def _bucket_pairs(spark, sf_dir):
    keyed = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 100).cast("int").alias("bucket"),
    )
    a = keyed.select(F.col("doc_id").alias("id1"), "lang", "bucket")
    b = keyed.select(F.col("doc_id").alias("id2"), "lang", "bucket")
    return a.join(b, ["lang", "bucket"]).filter(F.col("id1") < F.col("id2"))


def q_block_rule_attrib(spark, sf_dir):
    """Multi-rule union: first-rule attribution + ALL-flag agg (O1/A2/A3)."""
    r0 = _block_pairs(spark, sf_dir).select(
        "id1", "id2", F.lit(0).alias("rule_idx"), F.lit(0).alias("rto")
    )
    r1 = _bucket_pairs(spark, sf_dir).select(
        "id1", "id2", F.lit(1).alias("rule_idx"), F.lit(1).alias("rto")
    )
    return (
        r0.unionByName(r1)
        .groupBy("id1", "id2")
        .agg(
            F.min("rule_idx").alias("rule_idx"),
            F.min("rto").alias("require_overlap"),
        )
    )


def q_block_refined_pairs(spark, sf_dir):
    """The REAL candidate_pairs operator with hot-group word-join
    refinement forced on (tiny max_block_size makes every per-lang
    author group hot; arithmetic 199-word titles give the entropy the
    cost router needs to pick the prefix word join), compared against
    straightforward DuckDB blocking + overlap-prune SQL. Pins the
    refined generator, the wildcard/prefix machinery, and the
    attribution-recovery join end to end (operators/block.py:174-290).
    """
    from bib_dedupe_spark import constants as C
    from bib_dedupe_spark.operators.block import candidate_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("lang").isNotNull() & (F.col("lang") != "")
    )
    title = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit("w"),
                ((F.col("doc_id") * 7 + F.lit(i * 13)) % 199).cast("string"),
            )
            for i in range(6)
        ],
    )
    empty = [
        F.lit("").alias(c)
        for c in (
            C.TITLE_SHORT,
            C.PAGES,
            C.VOLUME,
            C.NUMBER,
            C.DOI,
            C.ABSTRACT,
            C.SEARCH_SET,
        )
    ]
    rec = docs.select(
        F.col("doc_id").alias(C.ID),
        title.alias(C.TITLE),
        F.col("lang").alias(C.AUTHOR_FIRST),
        (F.lit(1990) + F.col("doc_id") % 30).cast("string").alias(C.YEAR),
        F.lit("web").alias(C.CONTAINER_TITLE_SHORT),
        *empty,
    )
    pairs = candidate_pairs(
        rec,
        max_block_size=32,
        prune=True,
        hot_key_strategy="salt",
        refine_hot_keys=True,
        refine_min_quad=0,  # force routing despite the tiny fixture
    )
    return pairs.select(
        F.col("ID_1").cast("long").alias("id1"),
        F.col("ID_2").cast("long").alias("id2"),
        F.col("rule_idx").cast("long").alias("rule_idx"),
    )


def q_same_set_prune(spark, sf_dir):
    """Same-search_set pair pruning (F3)."""
    docs = _docs(spark, sf_dir)
    pairs = _block_pairs(spark, sf_dir)
    s1 = docs.select(F.col("doc_id").alias("id1"), F.col("source").alias("source_1"))
    s2 = docs.select(F.col("doc_id").alias("id2"), F.col("source").alias("source_2"))
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .filter(F.col("source_1") != F.col("source_2"))
        .select("id1", "id2", "source_1", "source_2")
    )


def q_token_overlap_prune(spark, sf_dir):
    """Token-overlap pruning with set-intersection semantics (F4).

    Tokens are pre-hashed (xxhash64) and deduplicated BEFORE the pair
    joins: the shuffle ships fixed 8-byte hashes instead of string
    arrays, and the distinct-shared count is unchanged (array_intersect
    is set-semantics either way; a 64-bit collision within one pair's
    vocabulary is ~2^-50 at corpus scale).
    """
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    sides = docs.select(
        "doc_id",
        F.size("w").alias("n"),
        F.array_distinct(F.transform("w", lambda x: F.xxhash64(x))).alias("h"),
    )
    pairs = _bucket_pairs(spark, sf_dir).select("id1", "id2")
    s1 = sides.select(
        F.col("doc_id").alias("id1"), F.col("n").alias("n1"), F.col("h").alias("h1")
    )
    s2 = sides.select(
        F.col("doc_id").alias("id2"), F.col("n").alias("n2"), F.col("h").alias("h2")
    )
    joined = pairs.join(s1, "id1").join(s2, "id2")
    shared = F.size(F.array_intersect("h1", "h2"))
    denom = F.least(F.col("n1") + 1, F.col("n2") + 1)
    return (
        joined.select(
            "id1", "id2", shared.alias("shared"), denom.alias("denom")
        )
        .filter(2 * F.col("shared") >= F.col("denom"))
    )


def q_enrich_join(spark, sf_dir):
    """Pair-enrichment joins, one per side (J2)."""
    docs = _docs(spark, sf_dir)
    pairs = _block_pairs(spark, sf_dir).select("id1", "id2")
    e1 = docs.select(
        F.col("doc_id").alias("id1"),
        F.col("n_chars").alias("n_chars_1"),
        F.col("source").alias("source_1"),
    )
    e2 = docs.select(
        F.col("doc_id").alias("id2"),
        F.col("n_chars").alias("n_chars_2"),
        F.col("source").alias("source_2"),
    )
    return pairs.join(e1, "id1").join(e2, "id2").select(
        "id1", "id2", "n_chars_1", "n_chars_2", "source_1", "source_2"
    )


def q_anti_join(spark, sf_dir):
    """Maybe-minus-true anti-join (J3)."""
    maybe = _bucket_pairs(spark, sf_dir).select("id1", "id2")
    true_pairs = _block_pairs(spark, sf_dir).select("id1", "id2")
    return maybe.join(true_pairs, ["id1", "id2"], "left_anti")


# ------------------------------------------------------------- rule layer

def q_sim_year_ladder(spark, sf_dir):
    """Graded year-similarity CASE ladder (SIM4), integer-scaled."""
    orders = _orders(spark, sf_dir)
    year = F.year("o_orderdate")
    gap = F.abs(year - F.lit(2020))
    sim = (
        F.when(gap == 0, 100)
        .when(gap == 1, 95)
        .when(gap == 2, 80)
        .otherwise(0)
    )
    return orders.select(
        "o_orderkey", year.alias("order_year"), sim.alias("year_sim_pct")
    )


def q_rule_engine(spark, sf_dir):
    """Duplicate/veto rule evaluation over a scored pair table (R1-R7)."""
    docs = _docs(spark, sf_dir)
    pairs = _block_pairs(spark, sf_dir).select("id1", "id2")
    e1 = docs.select(
        F.col("doc_id").alias("id1"),
        F.col("n_chars").alias("nc1"),
        F.col("source").alias("src1"),
    )
    e2 = docs.select(
        F.col("doc_id").alias("id2"),
        F.col("n_chars").alias("nc2"),
        F.col("source").alias("src2"),
    )
    scored = pairs.join(e1, "id1").join(e2, "id2")
    gap = F.abs(F.col("nc1") - F.col("nc2"))
    len_sim = (
        F.when(gap == 0, 100)
        .when(gap <= 20, 95)
        .when(gap <= 50, 80)
        .otherwise(0)
    )
    scored = scored.withColumn("len_sim_pct", len_sim)
    label = F.when(
        (F.col("len_sim_pct") >= 95) & (F.col("src1") != F.col("src2")),
        "duplicate",
    ).when(F.col("len_sim_pct") >= 80, "maybe").otherwise("no")
    return scored.select("id1", "id2", "len_sim_pct", label.alias("label"))


# ---------------------------------------------------------------- graph

def _zh_edges(spark, sf_dir):
    return (
        _block_pairs(spark, sf_dir)
        .filter(F.col("lang") == "zh")
        .select("id1", "id2")
    )


def q_cc_min_step(spark, sf_dir):
    """One min-label propagation step of connected components (G2)."""
    edges = _zh_edges(spark, sf_dir)
    sym = edges.select(
        F.col("id1").alias("node"), F.col("id2").alias("nbr")
    ).unionByName(
        edges.select(F.col("id2").alias("node"), F.col("id1").alias("nbr"))
    )
    return sym.groupBy("node").agg(
        F.least(F.min("nbr"), F.first("node")).alias("label")
    )


def q_cluster_components(spark, sf_dir):
    """Connected components (G2) — oracle: recursive CTE."""
    from bib_dedupe_spark.operators.cluster import connected_components

    edges = _zh_edges(spark, sf_dir).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    )
    return connected_components(edges).select(
        F.col("ID").alias("node"), F.col("component").alias("component")
    )


def q_survivor_origin(spark, sf_dir):
    """Survivorship aggregates: min-ID keep row, origin union, max (SV1-6)."""
    docs = _with_tok(_docs(spark, sf_dir))
    return docs.groupBy("lang", "tok").agg(
        F.min("doc_id").alias("representative"),
        F.count("*").alias("n_members"),
        F.array_join(F.array_sort(F.collect_set("source")), ";").alias(
            "origins"
        ),
        F.max("n_chars").alias("max_chars"),
    )


# ------------------------------------------------------- text/training ops

def q_exact_dedup(spark, sf_dir):
    """Exact dedup via content hash → representative + group size."""
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("fingerprint", F.md5(F.lower("text")))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("representative"),
            F.count("*").alias("n_copies"),
        )
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash (8 hashes) + banded LSH (2 bands) near-dup candidates."""
    docs = _docs(spark, sf_dir).filter(F.col("lang") == "en")
    return dedup.minhash_near_duplicates(docs, n_hashes=8, bands=2)


def q_ngram_jaccard(spark, sf_dir, lang="fr"):
    """3-gram Jaccard near-dup scoring over blocked pairs (integer form)."""
    pairs = (
        _block_pairs(spark, sf_dir)
        .filter(F.col("lang") == lang)
        .select("id1", "id2")
    )
    docs = _docs(spark, sf_dir).filter(F.col("lang") == lang)
    return dedup.ngram_jaccard(pairs, dedup.shingles(docs))


def q_near_dup_clusters(spark, sf_dir):
    """Near-dup cluster formation + dedup-savings accounting (compound):
    blocked candidates → exact 3-gram Jaccard ≥ 0.5 verify → connected
    components → per-cluster keep-one summary (kept doc = min id;
    removed_chars = chars deleted by keep-one) — the table a
    training-data dedup pipeline reports per shard.
    """
    from bib_dedupe_spark.operators.cluster import connected_components

    jac = q_ngram_jaccard(spark, sf_dir, lang="en")
    edges = jac.filter(F.col("shared") * 2 >= F.col("union_size")).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    )
    comp = connected_components(edges).select(
        F.col("ID").alias("node"), "component"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("node"), "n_chars"
    )
    return (
        comp.join(docs, "node")
        .groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            F.min("node").alias("kept_doc"),
            (F.sum("n_chars") - F.min_by("n_chars", "node"))
            .cast("long")
            .alias("removed_chars"),
        )
    )


def q_token_stats(spark, sf_dir):
    """Token counting / doc statistics."""
    docs = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    return docs.select(
        "doc_id",
        F.size("w").alias("n_tokens"),
        F.size(F.array_distinct("w")).alias("n_uniq"),
        F.aggregate(
            F.transform("w", F.length),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("long").alias("token_chars"),
    )


def q_quality_funnel(spark, sf_dir):
    """First-failing-gate filter funnel over documents (webtext).

    The synthetic corpus is clean, so deterministic perturbations are
    derived per doc_id to exercise every gate: %4==1 truncated to 3
    words (too_short), %4==2 three words repeated (low_uniq), %4==3
    vowels digit-substituted (low_alpha); %4==0 untouched."""
    from bib_dedupe_spark.textops.quality import quality_funnel

    docs = _docs(spark, sf_dir)
    words = F.split("text", " ")
    v = F.col("doc_id") % 4
    text2 = (
        F.when(v == 1, F.array_join(F.slice(words, 1, 3), " "))
        .when(
            v == 2,
            # 12 distinct words x 4 repeats: passes the uniq gate (0.25)
            # but fails the dup-3-gram gate -> attributes to 'repetitive'
            F.array_join(
                F.flatten(F.array_repeat(F.slice(words, 1, 12), 4)), " "
            ),
        )
        .when(v == 3, F.regexp_replace("text", "[aeiou]", "0"))
        .otherwise(F.col("text"))
    )
    return quality_funnel(docs.select("doc_id", text2.alias("text")))


def q_url_canonical(spark, sf_dir):
    """URL canonicalization (webtext): pseudo-URLs derived from the
    documents table (mixed case, default port, tracking params, unsorted
    query, fragment, trailing slash) -> canonical url + host. The oracle
    derives the expected canonical string independently per case."""
    from bib_dedupe_spark.textops.urls import normalize_url, url_host

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    variant = F.col("doc_id") % 3
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(variant == 0, F.lit(":443"))
        .when(variant == 2, F.lit(":8443"))
        .otherwise(F.lit("")),
        F.lit("/Docs/"),
        F.col("doc_id").cast("string"),
        F.when(variant == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(variant == 0, F.lit("?b=2&utm_campaign=x&a=1"))
        .when(variant == 1, F.lit("?utm_source=feed"))
        .otherwise(F.lit("")),
        F.lit("#frag"),
    )
    return docs.select(
        "doc_id",
        normalize_url(url).alias("canonical_url"),
        url_host(url).alias("host"),
    )


def q_host_profiles(spark, sf_dir):
    """Per-host crawl profile (volume / re-crawl rate / text mass).

    Pseudo-pages: docs {3k, 3k+1, 3k+2} share one url on host
    h<3k mod 20>.org — every host re-crawls 2/3 of its captures, so the
    dup_rate column is non-trivial."""
    from bib_dedupe_spark.textops.urls import host_profiles

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    base = F.col("doc_id") - F.col("doc_id") % 3
    pages = docs.select(
        F.concat(
            F.lit("https://h"), (base % 20).cast("string"),
            F.lit(".org/p/"), base.cast("string"),
        ).alias("url"),
        "text",
    )
    return host_profiles(pages)


def q_url_dedup(spark, sf_dir):
    """url-level dedup, first capture wins (min_by groupBy, no window).

    Pseudo-pages derived from documents: every third doc is a re-crawl of
    the previous doc's url with a later timestamp — the dedup must keep
    the earlier capture's doc_id per canonical url."""
    from bib_dedupe_spark.textops.urls import dedup_by_url

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    base = F.when(
        F.col("doc_id") % 3 == 2, F.col("doc_id") - 1
    ).otherwise(F.col("doc_id"))
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".org/p/"),
            base.cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 7).cast("long").alias("warc_ts"),
    )
    return dedup_by_url(pages, url_col="url", ts_col="warc_ts").select(
        "canonical_url", "doc_id", "warc_ts"
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition gates: duplicate-sentence and duplicate
    word-3-gram fractions (native expressions)."""
    from bib_dedupe_spark.textops.quality import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_quality_flags(spark, sf_dir):
    """Heuristic quality scoring: stopword ratio + length gates."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", F.split("text", " ").alias("w")
    )
    is_stop = lambda t: (  # noqa: E731
        (t == STOPWORDS[0])
        | (t == STOPWORDS[1])
        | (t == STOPWORDS[2])
        | (t == STOPWORDS[3])
        | (t == STOPWORDS[4])
    )
    n_stop = F.size(F.filter("w", is_stop))
    n_tokens = F.size("w")
    stop_pct = F.floor(100 * n_stop / n_tokens).cast("int")
    quality = (
        F.when((F.col("n_chars") >= 100) & (stop_pct < 40), "good")
        .when(F.col("n_chars") >= 100, "stopword_heavy")
        .otherwise("too_short")
    )
    return docs.select(
        "doc_id",
        n_stop.alias("n_stop"),
        n_tokens.alias("n_tokens"),
        stop_pct.alias("stop_pct"),
        quality.alias("quality"),
    )


def q_simhash(spark, sf_dir):
    """16-bit SimHash over distinct tokens (md5-derived bit planes)."""
    return dedup.simhash(_docs(spark, sf_dir)).select(
        F.col("doc").alias("doc_id"), "simhash"
    )


# ----------------------------------------------------------- embeddings

def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k neighbors for a query subset (ANN baseline)."""
    emb = _embeddings(spark, sf_dir)
    return similarity_search.brute_force_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=3
    ).select("query_id", "neighbor_id", "rank")


def q_ivf_topk(spark, sf_dir):
    """IVF ANN with fixed, deterministic centroids (the 4 lowest-vec_id
    embeddings), so nearest-centroid assignment is DuckDB-expressible:
    argmax dot → list equi-join → per-query rank. Ranks only (ints) for
    exact cross-engine comparison, mirroring embedding_topk."""
    import numpy as np

    emb = _embeddings(spark, sf_dir)
    cents = np.array(
        [
            list(r["embedding"])
            for r in emb.orderBy("vec_id").limit(4).collect()
        ],
        dtype=np.float64,
    )
    queries = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    return similarity_search.ivf_topk(
        queries, emb, k=3, n_probe=2, centroids=cents
    ).select("query_id", "neighbor_id", "rank")


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (threshold form), integer-
    scaled similarity for exact cross-engine comparison."""
    emb = _embeddings(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"))
    cos = similarity_search.cosine(F.col("v1"), F.col("v2"))
    return (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.floor(cos * 10000).cast("long").alias("cos_bp"))
        .filter(F.col("cos_bp") >= 4000)
    )


def q_lsh_multi_table_pairs(spark, sf_dir):
    """Multi-table random-hyperplane LSH candidate pairs.

    Exercises the REAL multi-table path (textops.similarity_search.
    lsh_candidate_pairs: per-table plane projections in the vectorized
    numpy UDF, (table, bucket) equi-join, any-table-collision union with
    per-pair dedupe) under PINNED integer hyperplanes the DuckDB oracle
    recomputes symbolically: plane[t][d][p] = ((t*10007 + d*97 + p*31)
    mod 7) - 3, two tables of four planes over the 64-dim embeddings.
    """
    n_tables, n_planes, dim = 2, 4, 64
    planes = [
        [
            [((t * 10007 + d * 97 + p * 31) % 7) - 3 for p in range(n_planes)]
            for d in range(dim)
        ]
        for t in range(n_tables)
    ]
    emb = _embeddings(spark, sf_dir)
    # quantize to the dyadic grid floor(x*1024)/1024: every component is
    # an exact multiple of 2^-10, so the 64-term integer-plane projection
    # is exact in double under ANY summation order — numpy's matmul and
    # DuckDB's list_dot_product cannot disagree on the sign even when a
    # projection lands at 0 (the oracle applies the same quantization)
    emb = emb.withColumn(
        "embedding",
        F.transform("embedding", lambda x: F.floor(x * 1024) / 1024),
    )
    pairs = similarity_search.lsh_candidate_pairs(
        emb,
        emb,
        n_planes=n_planes,
        n_tables=n_tables,
        dim=dim,
        planes=planes,
    )
    return (
        pairs.filter(F.col("query_id") < F.col("neighbor_id"))
        .select(
            F.col("query_id").alias("id1"),
            F.col("neighbor_id").alias("id2"),
        )
    )


def q_embedding_sign_lsh(spark, sf_dir):
    """Sign-based LSH bucketing of embeddings (scale path for ANN)."""
    emb = _embeddings(spark, sf_dir)
    bucket = similarity_search.sign_lsh_bucket(F.col("embedding"), 8)
    return emb.select("vec_id", "label", bucket.alias("bucket"))


# ------------------------------------------------------------- misc aggs

def q_events_agg(spark, sf_dir):
    """Per-user event aggregate (A5-7 style) with integer-scaled metrics.

    n_types via size(collect_set): event_type cardinality is tiny and
    bounded (event taxonomy, not user data), so the set aggregate is safe
    at any scale and the plan is ONE exchange instead of count_distinct's
    two-shuffle expand; values identical (both ignore nulls)."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.size(F.collect_set("event_type")).cast("long").alias("n_types"),
            F.floor(F.max("value") * 100).cast("long").alias("max_value_cents"),
        )
    )


def q_top_orders(spark, sf_dir):
    """Sort + limit (O4/O6), integer-scaled."""
    return (
        _orders(spark, sf_dir)
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias(
                "price_cents"
            ),
        )
    )


def q_fingerprints(spark, sf_dir):
    """Winnowing-style fingerprints: min md5 per 16-gram hash window."""
    from bib_dedupe_spark.textops.quality import fingerprints

    return fingerprints(_docs(spark, sf_dir)).select(
        F.col("doc").alias("doc_id"), "win", "fingerprint"
    )


def q_language_scores(spark, sf_dir):
    """Coarse language ID: function-word profile hit counts + argmax."""
    from bib_dedupe_spark.textops.quality import language_scores

    scored = language_scores(_docs(spark, sf_dir))
    score_cols = [c for c in scored.columns if c.startswith("score_")]
    return scored.select(
        F.col("doc").alias("doc_id"), *score_cols, "predicted_lang"
    )


def q_events_windowed(spark, sf_dir):
    """Tumbling-window event counts (streaming-shaped agg in batch)."""
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def q_revenue_by_priority(spark, sf_dir):
    """Join + decimal aggregate (exact cross-engine arithmetic)."""
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_orderpriority"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_discount").cast("decimal(18,2)").alias("disc"),
    )
    joined = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    )
    revenue = F.sum(
        (F.col("price") * (F.lit(1).cast("decimal(18,2)") - F.col("disc")))
    ).cast("decimal(28,4)")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            revenue.cast("string").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


QUERIES = {
    "scan_project": q_scan_project,
    "derived_columns": q_derived_columns,
    "nonempty_key_filter": q_nonempty_key_filter,
    "block_pairs": q_block_pairs,
    "block_rule_attrib": q_block_rule_attrib,
    "block_refined_pairs": q_block_refined_pairs,
    "same_set_prune": q_same_set_prune,
    "token_overlap_prune": q_token_overlap_prune,
    "enrich_join": q_enrich_join,
    "anti_join": q_anti_join,
    "sim_year_ladder": q_sim_year_ladder,
    "rule_engine": q_rule_engine,
    "cc_min_step": q_cc_min_step,
    "cluster_components": q_cluster_components,
    "survivor_origin": q_survivor_origin,
    "exact_dedup": q_exact_dedup,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "ngram_jaccard": q_ngram_jaccard,
    "near_dup_clusters": q_near_dup_clusters,
    "token_stats": q_token_stats,
    "quality_flags": q_quality_flags,
    "quality_funnel": q_quality_funnel,
    "url_canonical": q_url_canonical,
    "repetition_stats": q_repetition_stats,
    "url_dedup": q_url_dedup,
    "host_profiles": q_host_profiles,
    "simhash": q_simhash,
    "embedding_topk": q_embedding_topk,
    "ivf_topk": q_ivf_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_sign_lsh": q_embedding_sign_lsh,
    "lsh_multi_table_pairs": q_lsh_multi_table_pairs,
    "events_agg": q_events_agg,
    "top_orders": q_top_orders,
    "fingerprints": q_fingerprints,
    "language_scores": q_language_scores,
    "events_windowed": q_events_windowed,
    "revenue_by_priority": q_revenue_by_priority,
}


_PAIR_CTE = (
    "WITH k AS (SELECT doc_id, lang, split_part(text,' ',1) AS tok"
    " FROM documents), "
    "pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.lang AS lang,"
    " a.tok AS tok FROM k a JOIN k b ON a.lang = b.lang AND a.tok = b.tok"
    " AND a.doc_id < b.doc_id)"
)

_BUCKET_CTE = (
    "WITH kb AS (SELECT doc_id, lang,"
    " CAST(n_chars // 100 AS INT) AS bucket FROM documents), "
    "bpairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2 FROM kb a"
    " JOIN kb b ON a.lang = b.lang AND a.bucket = b.bucket"
    " AND a.doc_id < b.doc_id)"
)

_SHINGLE_CTE_TMPL = (
    "sh AS ("
    " SELECT doc_id, unnest(list_distinct(list_transform("
    "   range(1, len(string_split(text,' ')) - 1),"
    "   i -> string_split(text,' ')[i] || ' ' ||"
    "        string_split(text,' ')[i+1] || ' ' ||"
    "        string_split(text,' ')[i+2]))) AS shingle"
    " FROM documents"
    " WHERE lang = '{lang}' AND len(string_split(text,' ')) >= 3)"
)


ORACLES = {
    "scan_project": (
        "SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 200"
    ),
    "derived_columns": (
        "SELECT doc_id, split_part(text,' ',1) AS first_tok,"
        " array_to_string(string_split(text,' ')[1:10], ' ') AS short_text,"
        " array_to_string(list_transform(string_split(text,' ')[1:5],"
        "   w -> w[1]), '') AS initialism"
        " FROM documents"
    ),
    "nonempty_key_filter": (
        "SELECT doc_id, split_part(text,' ',1) AS tok, lang FROM documents"
        " WHERE split_part(text,' ',1) != '' AND lang != ''"
    ),
    "block_pairs": _PAIR_CTE + " SELECT id1, id2, lang, tok FROM pairs",
    "block_rule_attrib": (
        "WITH k AS (SELECT doc_id, lang, split_part(text,' ',1) AS tok,"
        " CAST(n_chars // 100 AS INT) AS bucket FROM documents), "
        "r0 AS (SELECT a.doc_id AS id1, b.doc_id AS id2, 0 AS rule_idx,"
        " 0 AS rto FROM k a JOIN k b ON a.lang = b.lang AND a.tok = b.tok"
        " AND a.doc_id < b.doc_id), "
        "r1 AS (SELECT a.doc_id AS id1, b.doc_id AS id2, 1 AS rule_idx,"
        " 1 AS rto FROM k a JOIN k b ON a.lang = b.lang AND"
        " a.bucket = b.bucket AND a.doc_id < b.doc_id) "
        "SELECT id1, id2, MIN(rule_idx) AS rule_idx, MIN(rto) AS"
        " require_overlap FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1)"
        " GROUP BY id1, id2"
    ),
    "same_set_prune": (
        _PAIR_CTE
        + " SELECT p.id1, p.id2, d1.source AS source_1, d2.source AS source_2"
        " FROM pairs p JOIN documents d1 ON d1.doc_id = p.id1"
        " JOIN documents d2 ON d2.doc_id = p.id2"
        " WHERE d1.source != d2.source"
    ),
    "token_overlap_prune": (
        _BUCKET_CTE
        + " SELECT p.id1, p.id2,"
        " len(list_distinct(list_intersect(string_split(d1.text,' '),"
        "   string_split(d2.text,' ')))) AS shared,"
        " least(len(string_split(d1.text,' ')) + 1,"
        "   len(string_split(d2.text,' ')) + 1) AS denom"
        " FROM bpairs p JOIN documents d1 ON d1.doc_id = p.id1"
        " JOIN documents d2 ON d2.doc_id = p.id2"
        " WHERE 2 * len(list_distinct(list_intersect("
        "   string_split(d1.text,' '), string_split(d2.text,' '))))"
        " >= least(len(string_split(d1.text,' ')) + 1,"
        "   len(string_split(d2.text,' ')) + 1)"
    ),
    "enrich_join": (
        _PAIR_CTE
        + " SELECT p.id1, p.id2, d1.n_chars AS n_chars_1,"
        " d2.n_chars AS n_chars_2, d1.source AS source_1,"
        " d2.source AS source_2"
        " FROM pairs p JOIN documents d1 ON d1.doc_id = p.id1"
        " JOIN documents d2 ON d2.doc_id = p.id2"
    ),
    "anti_join": (
        "WITH k AS (SELECT doc_id, lang, split_part(text,' ',1) AS tok,"
        " CAST(n_chars // 100 AS INT) AS bucket FROM documents), "
        "tp AS (SELECT a.doc_id AS id1, b.doc_id AS id2 FROM k a JOIN k b"
        " ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id), "
        "mp AS (SELECT a.doc_id AS id1, b.doc_id AS id2 FROM k a JOIN k b"
        " ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"
        " SELECT mp.id1, mp.id2 FROM mp LEFT JOIN tp"
        " ON mp.id1 = tp.id1 AND mp.id2 = tp.id2 WHERE tp.id1 IS NULL"
    ),
    "sim_year_ladder": (
        "SELECT o_orderkey, year(o_orderdate) AS order_year,"
        " CASE abs(year(o_orderdate) - 2020) WHEN 0 THEN 100 WHEN 1 THEN 95"
        " WHEN 2 THEN 80 ELSE 0 END AS year_sim_pct FROM orders"
    ),
    "rule_engine": (
        _PAIR_CTE
        + ", scored AS (SELECT p.id1, p.id2,"
        " CASE WHEN abs(d1.n_chars - d2.n_chars) = 0 THEN 100"
        " WHEN abs(d1.n_chars - d2.n_chars) <= 20 THEN 95"
        " WHEN abs(d1.n_chars - d2.n_chars) <= 50 THEN 80 ELSE 0 END"
        "  AS len_sim_pct, d1.source AS src1, d2.source AS src2"
        " FROM pairs p JOIN documents d1 ON d1.doc_id = p.id1"
        " JOIN documents d2 ON d2.doc_id = p.id2)"
        " SELECT id1, id2, len_sim_pct,"
        " CASE WHEN len_sim_pct >= 95 AND src1 != src2 THEN 'duplicate'"
        " WHEN len_sim_pct >= 80 THEN 'maybe' ELSE 'no' END AS label"
        " FROM scored"
    ),
    "cc_min_step": (
        _PAIR_CTE
        + ", zh AS (SELECT id1, id2 FROM pairs WHERE lang = 'zh'),"
        " sym AS (SELECT id1 AS node, id2 AS nbr FROM zh"
        " UNION ALL SELECT id2, id1 FROM zh)"
        " SELECT node, least(min(nbr), node) AS label FROM sym GROUP BY node"
    ),
    "cluster_components": (
        "WITH RECURSIVE k AS (SELECT doc_id, lang, split_part(text,' ',1)"
        " AS tok FROM documents), "
        "zh AS (SELECT a.doc_id AS id1, b.doc_id AS id2 FROM k a JOIN k b"
        " ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id"
        " WHERE a.lang = 'zh'), "
        "e AS (SELECT id1 AS src, id2 AS dst FROM zh"
        " UNION SELECT id2, id1 FROM zh), "
        "r AS (SELECT src AS node, src AS comp FROM e"
        " UNION SELECT e.dst, r.comp FROM r JOIN e ON e.src = r.node"
        " WHERE r.comp < e.dst)"
        " SELECT node, min(comp) AS component FROM r GROUP BY node"
    ),
    "survivor_origin": (
        "SELECT lang, split_part(text,' ',1) AS tok,"
        " min(doc_id) AS representative, count(*) AS n_members,"
        " array_to_string(list_sort(list_distinct(list(source))), ';')"
        "  AS origins,"
        " max(n_chars) AS max_chars"
        " FROM documents GROUP BY lang, split_part(text,' ',1)"
    ),
    "exact_dedup": (
        "SELECT md5(lower(text)) AS fingerprint, min(doc_id) AS"
        " representative, count(*) AS n_copies FROM documents"
        " GROUP BY md5(lower(text))"
    ),
    "minhash_lsh_pairs": (
        "WITH "
        + _SHINGLE_CTE_TMPL.format(lang="en")
        + ", hashed AS (SELECT doc_id, seed,"
        " md5(CAST(seed AS VARCHAR) || '|' || shingle) AS h"
        " FROM sh CROSS JOIN (SELECT unnest(range(8)) AS seed)), "
        "mh AS (SELECT doc_id, seed, min(h) AS mh FROM hashed"
        " GROUP BY doc_id, seed), "
        "bands AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,"
        " string_agg(mh, '' ORDER BY seed) AS sig FROM mh"
        " GROUP BY doc_id, CAST(seed // 4 AS INT))"
        " SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bands a"
        " JOIN bands b ON a.band = b.band AND a.sig = b.sig"
        " AND a.doc_id < b.doc_id"
    ),
    "ngram_jaccard": (
        "WITH "
        + _SHINGLE_CTE_TMPL.format(lang="fr")
        + ", k AS (SELECT doc_id, lang, split_part(text,' ',1) AS tok"
        " FROM documents), "
        "pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2 FROM k a"
        " JOIN k b ON a.lang = b.lang AND a.tok = b.tok"
        " AND a.doc_id < b.doc_id WHERE a.lang = 'fr'), "
        "counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
        "shared AS (SELECT p.id1, p.id2, count(*) AS shared FROM pairs p"
        " JOIN sh s1 ON s1.doc_id = p.id1"
        " JOIN sh s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle"
        " GROUP BY p.id1, p.id2)"
        " SELECT p.id1, p.id2, COALESCE(s.shared, 0) AS shared,"
        " c1.n_sh + c2.n_sh - COALESCE(s.shared, 0) AS union_size"
        " FROM pairs p LEFT JOIN shared s ON s.id1 = p.id1 AND s.id2 = p.id2"
        " JOIN counts c1 ON c1.doc_id = p.id1"
        " JOIN counts c2 ON c2.doc_id = p.id2"
    ),
    "near_dup_clusters": (
        "WITH RECURSIVE "
        + _SHINGLE_CTE_TMPL.format(lang="en")
        + ", k AS (SELECT doc_id, lang, split_part(text,' ',1) AS tok"
        " FROM documents), "
        "pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2 FROM k a"
        " JOIN k b ON a.lang = b.lang AND a.tok = b.tok"
        " AND a.doc_id < b.doc_id WHERE a.lang = 'en'), "
        "counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
        "shared AS (SELECT p.id1, p.id2, count(*) AS shared FROM pairs p"
        " JOIN sh s1 ON s1.doc_id = p.id1"
        " JOIN sh s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle"
        " GROUP BY p.id1, p.id2), "
        "verified AS (SELECT s.id1, s.id2 FROM shared s"
        " JOIN counts c1 ON c1.doc_id = s.id1"
        " JOIN counts c2 ON c2.doc_id = s.id2"
        " WHERE 2 * s.shared >= c1.n_sh + c2.n_sh - s.shared), "
        "e AS (SELECT id1 AS src, id2 AS dst FROM verified"
        " UNION SELECT id2, id1 FROM verified), "
        "r AS (SELECT src AS node, src AS comp FROM e"
        " UNION SELECT e.dst, r.comp FROM r JOIN e ON e.src = r.node"
        " WHERE r.comp < e.dst), "
        "lab AS (SELECT node, min(comp) AS component FROM r GROUP BY node)"
        " SELECT component, count(*) AS n_members, min(node) AS kept_doc,"
        " CAST(sum(d.n_chars) - arg_min(d.n_chars, node) AS BIGINT)"
        "  AS removed_chars"
        " FROM lab JOIN documents d ON d.doc_id = lab.node"
        " GROUP BY component"
    ),
    "token_stats": (
        "SELECT doc_id, len(string_split(text,' ')) AS n_tokens,"
        " len(list_distinct(string_split(text,' '))) AS n_uniq,"
        " CAST(list_sum(list_transform(string_split(text,' '), w -> len(w)))"
        "  AS BIGINT) AS token_chars"
        " FROM documents"
    ),
    "quality_funnel": (
        "WITH perturbed AS (SELECT doc_id,"
        " CASE CAST(doc_id % 4 AS INT)"
        "  WHEN 1 THEN array_to_string(string_split(text,' ')[1:3], ' ')"
        "  WHEN 2 THEN array_to_string(flatten([string_split(text,' ')[1:12]"
        "   FOR _ IN range(4)]), ' ')"
        "  WHEN 3 THEN regexp_replace(text, '[aeiou]', '0', 'g')"
        "  ELSE text END AS text FROM documents), "
        "base AS (SELECT doc_id, text,"
        " string_split_regex(text, '\\s+') AS w,"
        " list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws"
        " FROM perturbed), "
        "m AS (SELECT doc_id, len(w) AS n_tokens,"
        " len(list_distinct(w)) * 1.0 / len(w) AS uniq_ratio,"
        " len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0"
        "  / greatest(len(text), 1) AS alpha_ratio,"
        " CASE WHEN len(ws) >= 3 THEN"
        "  list_transform(generate_series(1, len(ws) - 2),"
        "   i -> array_to_string(ws[i:i+2], ' '))"
        "  ELSE CAST([] AS VARCHAR[]) END AS ng FROM base), "
        "g AS (SELECT doc_id, n_tokens, uniq_ratio, alpha_ratio,"
        " CASE WHEN len(ng) > 0 THEN"
        "  (len(ng) - len(list_distinct(ng))) * 1.0 / len(ng)"
        "  ELSE 0.0 END AS dupf FROM m)"
        " SELECT CASE WHEN n_tokens < 10 THEN 'too_short'"
        "  WHEN uniq_ratio < 0.2 THEN 'low_uniq'"
        "  WHEN alpha_ratio < 0.6 THEN 'low_alpha'"
        "  WHEN dupf > 0.3 THEN 'repetitive'"
        "  ELSE 'kept' END AS gate, count(*) AS n_docs"
        " FROM g GROUP BY 1"
    ),
    "url_canonical": (
        "SELECT doc_id,"
        " CASE CAST(doc_id % 3 AS INT)"
        "  WHEN 0 THEN 'https://www.' || source || '.example.com/Docs/'"
        "   || doc_id || '?a=1&b=2'"
        "  WHEN 1 THEN 'https://www.' || source || '.example.com/Docs/'"
        "   || doc_id"
        "  ELSE 'https://www.' || source || '.example.com:8443/Docs/'"
        "   || doc_id"
        " END AS canonical_url,"
        " 'www.' || source || '.example.com' AS host"
        " FROM documents"
    ),
    "url_dedup": (
        "WITH pages AS (SELECT doc_id,"
        " 'https://' || source || '.org/p/' ||"
        " CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id - 1 ELSE doc_id END"
        "  AS VARCHAR) AS url,"
        " CAST(doc_id % 7 AS BIGINT) AS warc_ts FROM documents)"
        " SELECT url AS canonical_url,"
        " arg_min(doc_id, warc_ts) AS doc_id,"
        " min(warc_ts) AS warc_ts"
        " FROM pages GROUP BY url"
    ),
    "host_profiles": (
        "WITH pages AS (SELECT"
        " 'h' || CAST((doc_id - doc_id % 3) % 20 AS VARCHAR) || '.org'"
        "  AS host,"
        " 'https://h' || CAST((doc_id - doc_id % 3) % 20 AS VARCHAR)"
        "  || '.org/p/' || CAST(doc_id - doc_id % 3 AS VARCHAR) AS curl,"
        " len(text) AS chars FROM documents)"
        " SELECT host, count(*) AS n_pages,"
        " count(DISTINCT curl) AS n_unique_urls,"
        " round(1.0 - count(DISTINCT curl) * 1.0 / count(*), 6) AS dup_rate,"
        " CAST(sum(chars) AS BIGINT) AS total_chars,"
        " round(avg(chars), 6) AS mean_chars"
        " FROM pages GROUP BY host"
    ),
    "repetition_stats": (
        "WITH base AS (SELECT doc_id AS doc,"
        " list_filter(list_transform(string_split(text, '.'), s -> trim(s)),"
        "  s -> s <> '') AS sents,"
        " list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS ws"
        " FROM documents), "
        "ng AS (SELECT doc, sents, ws,"
        " CASE WHEN len(ws) >= 3 THEN"
        "  list_transform(generate_series(1, len(ws) - 2),"
        "   i -> array_to_string(ws[i:i+2], ' '))"
        " ELSE [] END AS grams FROM base) "
        "SELECT doc,"
        " len(sents) AS n_sentences,"
        " CASE WHEN len(sents) > 0 THEN round((len(sents) -"
        "  len(list_distinct(sents))) / CAST(len(sents) AS DOUBLE), 6)"
        "  ELSE 0.0 END AS dup_sentence_frac,"
        " len(grams) AS n_ngrams,"
        " CASE WHEN len(grams) > 0 THEN round((len(grams) -"
        "  len(list_distinct(grams))) / CAST(len(grams) AS DOUBLE), 6)"
        "  ELSE 0.0 END AS dup_ngram_frac"
        " FROM ng"
    ),
    "quality_flags": (
        "WITH t AS (SELECT doc_id, n_chars,"
        " len(string_split(text,' ')) AS n_tokens,"
        " len(list_filter(string_split(text,' '),"
        "   w -> w = 'the' OR w = 'a' OR w = 'of' OR w = 'and' OR w = 'in'))"
        "  AS n_stop FROM documents)"
        " SELECT doc_id, n_stop, n_tokens,"
        " CAST(floor(100 * n_stop / n_tokens) AS INT) AS stop_pct,"
        " CASE WHEN n_chars >= 100 AND floor(100 * n_stop / n_tokens) < 40"
        " THEN 'good' WHEN n_chars >= 100 THEN 'stopword_heavy'"
        " ELSE 'too_short' END AS quality FROM t"
    ),
    "simhash": (
        "WITH toks AS (SELECT doc_id, unnest(list_distinct("
        " string_split(text,' '))) AS t FROM documents), "
        "hv AS (SELECT doc_id,"
        " (strpos('0123456789abcdef', md5(t)[1]) - 1) * 4096"
        " + (strpos('0123456789abcdef', md5(t)[2]) - 1) * 256"
        " + (strpos('0123456789abcdef', md5(t)[3]) - 1) * 16"
        " + (strpos('0123456789abcdef', md5(t)[4]) - 1) AS v FROM toks), "
        "bits AS (SELECT doc_id, j, 2 * ((v // CAST(pow(2, j) AS BIGINT)) % 2)"
        " - 1 AS contrib FROM hv CROSS JOIN"
        " (SELECT unnest(range(16)) AS j)), "
        "s AS (SELECT doc_id, j, sum(contrib) AS s FROM bits"
        " GROUP BY doc_id, j)"
        " SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END,"
        " '' ORDER BY j) AS simhash FROM s GROUP BY doc_id"
    ),
    "ivf_topk": (
        "WITH e AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings), "
        "cents AS (SELECT v AS cv,"
        " row_number() OVER (ORDER BY vec_id) - 1 AS cidx"
        " FROM e ORDER BY vec_id LIMIT 4), "
        "assign AS (SELECT e.vec_id, c.cidx,"
        " row_number() OVER (PARTITION BY e.vec_id"
        "  ORDER BY list_dot_product(e.v, c.cv) DESC, c.cidx ASC) AS rn"
        " FROM e CROSS JOIN cents c), "
        "corpus_lists AS (SELECT vec_id AS neighbor_id, cidx AS list_id"
        " FROM assign WHERE rn = 1), "
        "query_lists AS (SELECT vec_id AS query_id, cidx AS list_id"
        " FROM assign WHERE rn <= 2 AND vec_id < 5), "
        "cand AS (SELECT q.query_id, cl.neighbor_id"
        " FROM query_lists q JOIN corpus_lists cl ON q.list_id = cl.list_id"
        " WHERE q.query_id <> cl.neighbor_id), "
        "cos AS (SELECT s.query_id, s.neighbor_id,"
        " list_dot_product(eq.v, ec.v) /"
        " sqrt(list_dot_product(eq.v, eq.v) * list_dot_product(ec.v, ec.v))"
        "  AS c"
        " FROM cand s JOIN e eq ON eq.vec_id = s.query_id"
        " JOIN e ec ON ec.vec_id = s.neighbor_id) "
        "SELECT query_id, neighbor_id, rank FROM ("
        " SELECT query_id, neighbor_id,"
        " CAST(row_number() OVER (PARTITION BY query_id"
        "  ORDER BY c DESC, neighbor_id ASC) AS INT) AS rank FROM cos)"
        " WHERE rank <= 3"
    ),
    "embedding_topk": (
        "WITH e AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings), "
        "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,"
        " list_dot_product(q.v, c.v) /"
        " sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v))"
        "  AS cos"
        " FROM e q CROSS JOIN e c"
        " WHERE q.vec_id < 5 AND q.vec_id != c.vec_id), "
        "ranked AS (SELECT query_id, neighbor_id, row_number() OVER"
        " (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)"
        "  AS rank FROM scored)"
        " SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 3"
    ),
    "embedding_near_dup": (
        "WITH e AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings)"
        " SELECT a.vec_id AS id1, b.vec_id AS id2,"
        " CAST(floor(list_dot_product(a.v, b.v) /"
        "   sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))"
        "   * 10000) AS BIGINT) AS cos_bp"
        " FROM e a JOIN e b ON a.vec_id < b.vec_id"
        " WHERE floor(list_dot_product(a.v, b.v) /"
        "   sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v))"
        "   * 10000) >= 4000"
    ),
    "embedding_sign_lsh": (
        "SELECT vec_id, label,"
        " array_to_string(list_transform(embedding[1:8],"
        "   x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket"
        " FROM embeddings"
    ),
    "lsh_multi_table_pairs": (
        "WITH q AS ("
        " SELECT vec_id, list_transform(embedding,"
        "   x -> floor(x * 1024) / 1024) AS embedding FROM embeddings), "
        "bits AS ("
        " SELECT e.vec_id, t.t AS t, p.p AS p,"
        "  (list_dot_product(e.embedding, list_transform(range(0, 64),"
        "     d -> CAST((((t.t*10007 + d*97 + p.p*31) % 7) - 3)"
        "          AS DOUBLE))) >= 0) AS bit"
        " FROM q e, range(0, 2) t(t), range(0, 4) p(p)), "
        "buckets AS ("
        " SELECT vec_id, t,"
        "  string_agg(CASE WHEN bit THEN '1' ELSE '0' END, ''"
        "             ORDER BY p) AS bucket"
        " FROM bits GROUP BY vec_id, t)"
        " SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2"
        " FROM buckets a JOIN buckets b"
        " ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id"
    ),
    "block_refined_pairs": (
        "WITH rec AS ("
        " SELECT doc_id AS id, lang AS af, 1990 + doc_id % 30 AS yr,"
        "  concat_ws(' ',"
        "   'w' || CAST((doc_id*7 + 0) % 199 AS VARCHAR),"
        "   'w' || CAST((doc_id*7 + 13) % 199 AS VARCHAR),"
        "   'w' || CAST((doc_id*7 + 26) % 199 AS VARCHAR),"
        "   'w' || CAST((doc_id*7 + 39) % 199 AS VARCHAR),"
        "   'w' || CAST((doc_id*7 + 52) % 199 AS VARCHAR),"
        "   'w' || CAST((doc_id*7 + 65) % 199 AS VARCHAR)) AS title"
        " FROM documents WHERE lang IS NOT NULL AND lang <> ''), "
        "pr AS ("
        " SELECT a.id AS id1, b.id AS id2, r.rule_idx,"
        "  a.title AS t1, b.title AS t2"
        " FROM rec a JOIN rec b ON a.af = b.af AND a.id < b.id,"
        "  (VALUES (0),(1)) r(rule_idx)"
        " WHERE r.rule_idx = 1 OR a.yr = b.yr), "
        "attr AS ("
        " SELECT id1, id2, MIN(rule_idx) AS rule_idx,"
        "  MIN(t1) AS t1, MIN(t2) AS t2"
        " FROM pr GROUP BY id1, id2)"
        " SELECT id1, id2, CAST(rule_idx AS BIGINT) AS rule_idx FROM attr"
        " WHERE t1 = t2 OR NOT contains(t1, ' ') OR NOT contains(t2, ' ')"
        "  OR 2 * len(list_intersect("
        "       list_filter(string_split(t1, ' '), x -> x <> ''),"
        "       list_filter(string_split(t2, ' '), x -> x <> '')))"
        "     >= least(len(list_filter(string_split(t1, ' '), x -> x <> ''))"
        "              + 1,"
        "              len(list_filter(string_split(t2, ' '), x -> x <> ''))"
        "              + 1)"
    ),
    "events_agg": (
        "SELECT user_id, count(*) AS n_events,"
        " count(DISTINCT event_type) AS n_types,"
        " CAST(floor(max(value) * 100) AS BIGINT) AS max_value_cents"
        " FROM events GROUP BY user_id"
    ),
    "top_orders": (
        "SELECT o_orderkey, o_custkey,"
        " CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents"
        " FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"
    ),
    "fingerprints": (
        "WITH w AS (SELECT doc_id, string_split(lower(text),' ') AS words"
        " FROM documents), "
        "grams AS (SELECT doc_id, unnest(list_transform("
        "   range(1, greatest(len(words) - 2, 2)),"
        "   i -> struct_pack(pos := i, h := md5(words[i] || ' ' ||"
        "        words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))))"
        "  AS g FROM w)"
        " SELECT doc_id, CAST((g.pos - 1) // 16 AS BIGINT) AS win,"
        " min(g.h) AS fingerprint FROM grams"
        " GROUP BY doc_id, (g.pos - 1) // 16"
    ),
    "language_scores": (
        "WITH w AS (SELECT doc_id, string_split(lower(text),' ') AS words"
        " FROM documents), "
        "s AS (SELECT doc_id,"
        " len(list_filter(words, t -> t = 'the' OR t = 'and' OR t = 'of'"
        "   OR t = 'to' OR t = 'in')) AS score_en,"
        " len(list_filter(words, t -> t = 'der' OR t = 'die' OR t = 'und'"
        "   OR t = 'das' OR t = 'nicht')) AS score_de,"
        " len(list_filter(words, t -> t = 'le' OR t = 'la' OR t = 'et'"
        "   OR t = 'les' OR t = 'des')) AS score_fr,"
        " len(list_filter(words, t -> t = 'el' OR t = 'la' OR t = 'de'"
        "   OR t = 'que' OR t = 'los')) AS score_es,"
        " len(list_filter(words, t -> t = 'il' OR t = 'che' OR t = 'di'"
        "   OR t = 'non' OR t = 'per')) AS score_it,"
        " len(list_filter(words, t -> t = 'het' OR t = 'een' OR t = 'van'"
        "   OR t = 'niet' OR t = 'ik')) AS score_nl,"
        " len(list_filter(words, t -> t = 'não' OR t = 'uma' OR t = 'por'"
        "   OR t = 'como' OR t = 'mais')) AS score_pt"
        " FROM w), "
        "g AS (SELECT *, greatest(score_en, score_de, score_fr, score_es,"
        " score_it, score_nl, score_pt) AS best FROM s)"
        " SELECT doc_id, score_en, score_de, score_fr, score_es,"
        " score_it, score_nl, score_pt,"
        " CASE WHEN best = 0 THEN 'unknown'"
        " WHEN score_en = best THEN 'en'"
        " WHEN score_de = best THEN 'de'"
        " WHEN score_fr = best THEN 'fr'"
        " WHEN score_es = best THEN 'es'"
        " WHEN score_it = best THEN 'it'"
        " WHEN score_nl = best THEN 'nl'"
        " ELSE 'pt' END AS predicted_lang FROM g"
    ),
    "events_windowed": (
        "SELECT date_trunc('hour', ts) AS hour, event_type,"
        " count(*) AS n_events, count(DISTINCT user_id) AS n_users"
        " FROM events GROUP BY date_trunc('hour', ts), event_type"
    ),
    "revenue_by_priority": (
        "SELECT o_orderpriority,"
        " CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))"
        "  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))"
        "  AS DECIMAL(28,4)) AS VARCHAR) AS revenue,"
        " count(*) AS n_items"
        " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        " GROUP BY o_orderpriority"
    ),
}
