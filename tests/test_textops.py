"""Tests for the training-data text/embedding operators."""
import hashlib
import re

import pytest
from pyspark.sql import functions as F

from bib_dedupe_spark.textops import dedup, quality, similarity_search


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "src1"),
        (2, "the quick brown fox jumps over the lazy dog", "src2"),  # exact
        (3, "the quick brown fox leaps over the lazy dog", "src1"),  # near
        (4, "completely different text about spark query engines", "src3"),
        (5, "der schnelle braune fuchs springt", "src4"),
        (6, "le renard brun rapide et les chiens", "src5"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["representative"] == 1
    assert groups[0]["members"] == [1, 2]


def test_minhash_near_duplicates(docs):
    pairs = {
        (r["id1"], r["id2"])
        for r in dedup.minhash_near_duplicates(
            docs, n_hashes=16, bands=8
        ).collect()
    }
    assert (1, 2) in pairs  # exact dup always survives
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup shares bands
    assert (1, 4) not in pairs


def _minhash_lsh_reference(rows, n_hashes, bands):
    """Pure-Python minhash + banding: md5 of ``"<seed>|<shingle>"``."""
    per_band = n_hashes // bands
    buckets = {}
    for doc, text in rows:
        words = text.split(" ")
        grams = {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}
        if not grams:
            continue
        mins = [
            min(hashlib.md5(f"{s}|{g}".encode()).hexdigest() for g in grams)
            for s in range(n_hashes)
        ]
        for b in range(bands):
            sig = "".join(mins[b * per_band:(b + 1) * per_band])
            buckets.setdefault((b, sig), set()).add(doc)
    return {
        (a, b) for ids in buckets.values() for a in ids for b in ids if a < b
    }


@pytest.mark.parametrize("n_hashes,bands", [(16, 8), (8, 2)])
def test_minhash_near_duplicates_row_set(docs, n_hashes, bands):
    # one space separates tokens: a doubled space is an empty token
    corpus = docs.union(
        docs.sparkSession.createDataFrame(
            [(7, "the quick  brown fox jumps over the lazy dog", "src6")],
            docs.columns,
        )
    )
    want = _minhash_lsh_reference(
        [(r["doc_id"], r["text"]) for r in corpus.collect()], n_hashes, bands
    )
    got = dedup.minhash_near_duplicates(corpus, n_hashes=n_hashes, bands=bands)
    rows = [(r["id1"], r["id2"]) for r in got.collect()]
    assert len(rows) == len(set(rows))
    assert set(rows) == want
    assert (1, 2) in want


def test_minhash_rejects_uneven_bands(docs):
    with pytest.raises(ValueError, match="equal bands"):
        dedup.minhash_near_duplicates(docs, n_hashes=10, bands=3)


def _exchanges(df):
    """Exchange operators in the executed (final adaptive) plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return len(re.findall(r"^[\s:+\-|]*(?:Broadcast)?Exchange ", final, re.M))


def test_library_plan_shapes(docs):
    """MinHash/LSH plans 3 exchanges (signature groupBy, bucket groupBy,
    distinct) and SimHash 1 (the per-doc groupBy)."""
    mh = dedup.minhash_near_duplicates(docs, n_hashes=8, bands=2)
    assert _exchanges(mh) == 3
    assert _exchanges(dedup.simhash(docs)) == 1


def test_ngram_jaccard_scores(docs):
    sh = dedup.shingles(docs)
    pairs = docs.sparkSession.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["id1", "id2"]
    )
    scored = {
        (r["id1"], r["id2"]): (r["shared"], r["union_size"])
        for r in dedup.ngram_jaccard(pairs, sh).collect()
    }
    assert scored[(1, 2)][0] == scored[(1, 2)][1]  # identical: J = 1
    assert 0 < scored[(1, 3)][0] < scored[(1, 3)][1]
    assert scored[(1, 4)][0] == 0


def test_simhash_near_duplicates(docs):
    sigs = {r["doc"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sigs[1] == sigs[2]
    hamming_13 = sum(a != b for a, b in zip(sigs[1], sigs[3]))
    hamming_14 = sum(a != b for a, b in zip(sigs[1], sigs[4]))
    assert hamming_13 < hamming_14
    pairs = {
        (r["id1"], r["id2"])
        for r in dedup.simhash_near_duplicates(docs, max_hamming=3).collect()
    }
    assert (1, 2) in pairs


def test_brute_force_topk(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [-1.0, 0.0, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    top = similarity_search.brute_force_topk(
        vecs.filter("vec_id = 1"), vecs, k=2
    ).collect()
    ranked = sorted((r["rank"], r["neighbor_id"]) for r in top)
    assert ranked[0] == (1, 2)  # closest
    assert ranked[1][1] in (3,)  # orthogonal beats opposite


def test_lsh_topk_recall(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.5, 0.2, 0.1]),
            (2, [0.9, 0.4, 0.2, 0.1]),
            (3, [-1.0, -0.5, -0.2, -0.1]),
        ],
        ["vec_id", "embedding"],
    )
    top = similarity_search.lsh_topk(
        vecs.filter("vec_id = 1"), vecs, k=1, n_planes=4
    ).collect()
    assert len(top) == 1 and top[0]["neighbor_id"] == 2


def test_quality_and_language(docs):
    q = {r["doc"]: r for r in quality.quality_scores(docs).collect()}
    assert q[1]["n_tokens"] == 9
    stats = {r["doc"]: r for r in quality.token_stats(docs).collect()}
    assert stats[1]["n_ws_tokens"] == 9
    assert stats[1]["n_uniq_tokens"] == 8  # 'the' twice
    langs = {
        r["doc"]: r["predicted_lang"]
        for r in quality.language_scores(docs).collect()
    }
    assert langs[1] == "en"
    assert langs[5] == "de"
    assert langs[6] == "fr"


def test_fingerprints(docs):
    rows = quality.fingerprints(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc"], set()).add(r["fingerprint"])
    assert by_doc[1] == by_doc[2]  # identical docs → identical fingerprints
    assert by_doc[1] != by_doc[4]


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity_search.brute_force_topk(queries, emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity_search.ivf_topk(
            queries, emb, k=5, n_lists=8, n_probe=5
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # deterministic pipeline (seeded sample, stable argmax): 0.91 observed
    assert recall >= 0.85, f"IVF recall too low: {recall}"
    # probing every list must reproduce the exact result
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity_search.ivf_topk(
            queries, emb, k=5, n_lists=8, n_probe=8
        ).collect()
    }
    assert full == exact


def test_url_normalize_and_dedup(spark):
    from datetime import datetime

    from bib_dedupe_spark.textops import urls

    rows = [
        # same page: mixed case, default port, tracking junk, param order
        ("HTTP://Example.COM:80/a/b/?b=2&a=1&utm_source=x#top", datetime(2026, 1, 2)),
        ("http://example.com/a/b?a=1&b=2", datetime(2026, 1, 1)),
        # root url keeps its slash; empty path becomes '/'
        ("https://Root.org", datetime(2026, 1, 1)),
        ("https://root.org/#frag", datetime(2026, 1, 3)),
        # distinct page (param value differs)
        ("http://example.com/a/b?a=2", datetime(2026, 1, 1)),
        # userinfo is not part of the host
        ("https://user:pw@Host.net/x", datetime(2026, 1, 1)),
        # non-default port is a DISTINCT origin — must not merge with :80
        ("http://example.com:8080/a/b?a=1&b=2", datetime(2026, 1, 1)),
        # https with explicit :80 is non-default for https — kept
        ("https://example.com:80/a/b?a=1&b=2", datetime(2026, 1, 1)),
        # https default :443 is dropped
        ("HTTPS://Example.com:443/s", datetime(2026, 1, 1)),
    ]
    pages = spark.createDataFrame(rows, ["url", "warc_ts"])
    norm = {r["url"]: r["n"] for r in pages.select(
        "url", urls.normalize_url("url").alias("n")).collect()}
    assert norm["HTTP://Example.COM:80/a/b/?b=2&a=1&utm_source=x#top"] == \
        "http://example.com/a/b?a=1&b=2"
    assert norm["https://Root.org"] == "https://root.org/"
    assert norm["https://root.org/#frag"] == "https://root.org/"
    assert norm["https://user:pw@Host.net/x"] == "https://host.net/x"
    assert norm["http://example.com:8080/a/b?a=1&b=2"] == \
        "http://example.com:8080/a/b?a=1&b=2"
    assert norm["https://example.com:80/a/b?a=1&b=2"] == \
        "https://example.com:80/a/b?a=1&b=2"
    assert norm["HTTPS://Example.com:443/s"] == "https://example.com/s"

    deduped = urls.dedup_by_url(pages).collect()
    by_curl = {r["canonical_url"]: r for r in deduped}
    # example/a/b, root, a/b?a=2, host.net/x, :8080 origin, https:80 origin, /s
    assert len(by_curl) == 7
    # earliest capture wins
    assert by_curl["http://example.com/a/b?a=1&b=2"]["warc_ts"] == datetime(2026, 1, 1)
    assert by_curl["https://root.org/"]["warc_ts"] == datetime(2026, 1, 1)

    hosts = {r["host"]: r["n_docs"] for r in urls.host_doc_counts(pages).collect()}
    assert hosts["example.com"] == 6 and hosts["root.org"] == 2


def test_repetition_stats(spark):
    from bib_dedupe_spark.textops.quality import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c. a b c. d e f."),        # 3 sentences, 1 dup
            (2, "x y z w"),                      # no repetition, 2 ngrams
            (3, "r r r r r"),                    # all 3-grams identical
            (4, ""),                             # empty
        ],
        ["doc_id", "text"],
    )
    got = {r["doc"]: r.asDict() for r in repetition_stats(docs).collect()}
    assert got[1]["n_sentences"] == 3
    assert abs(got[1]["dup_sentence_frac"] - 1 / 3) < 1e-6
    assert got[2]["dup_ngram_frac"] == 0.0 and got[2]["n_ngrams"] == 2
    assert got[3]["n_ngrams"] == 3 and abs(got[3]["dup_ngram_frac"] - 2 / 3) < 1e-6
    assert got[4]["n_sentences"] == 0 and got[4]["dup_sentence_frac"] == 0.0


def test_url_normalize_idempotent(spark):
    """Canonicalization is a projection: normalize∘normalize == normalize."""
    import random

    from bib_dedupe_spark.textops import urls

    rnd = random.Random(8)
    hosts = ["Example.COM", "a.b.ORG", "x-y.net:443", "q.io:80", "u@p.de"]
    paths = ["", "/", "/A/b", "/A/b/", "/z%20q"]
    queries = ["", "?b=2&a=1", "?utm_source=x", "?a=1&utm_b=2&c=", "?k"]
    frags = ["", "#f", "#a/b?c=1"]
    rows = []
    for _ in range(120):
        rows.append((
            rnd.choice(["http", "HTTPS"]) + "://" + rnd.choice(hosts)
            + rnd.choice(paths) + rnd.choice(queries) + rnd.choice(frags),
        ))
    df = spark.createDataFrame(rows, ["url"])
    once = df.select(urls.normalize_url("url").alias("u1"))
    twice = once.select("u1", urls.normalize_url("u1").alias("u2"))
    bad = twice.filter("u1 <> u2").collect()
    assert not bad, bad[:3]


def test_language_profiles_extended(spark):
    from bib_dedupe_spark.textops.quality import language_scores

    docs = spark.createDataFrame(
        [
            (1, "il cane che corre non si ferma per niente di solito"),
            (2, "het is een mooie dag van niet ik weet het"),
            (3, "não sei por que uma pessoa como você quer mais"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc"]: r["predicted_lang"] for r in language_scores(docs).collect()}
    assert got == {1: "it", 2: "nl", 3: "pt"}


def test_url_host_matches_stdlib(spark):
    """Cross-validate host extraction and query filtering against
    urllib.parse on well-formed URLs (independent public implementation)."""
    import random
    from urllib.parse import parse_qsl, urlsplit

    from pyspark.sql import functions as F

    from bib_dedupe_spark.textops import urls

    rnd = random.Random(4)
    hosts = ["example.com", "A.B.org", "x-1.net", "h.io:8080", "u:p@q.de:443"]
    rows = []
    for i in range(150):
        q = rnd.choice(["", "?a=1&b=2", "?b=2&a=1&utm_source=f", "?z=9#f",
                        "?utm_campaign=c&k=v"])
        rows.append((f"http://{rnd.choice(hosts)}/p{i}{q}",))
    df = spark.createDataFrame(rows, ["url"])
    got = df.select(
        "url",
        urls.url_host("url").alias("host"),
        urls.normalize_url("url").alias("canon"),
    ).collect()
    for r in got:
        split = urlsplit(r["url"])
        assert r["host"] == (split.hostname or ""), r["url"]
        want_params = sorted(
            f"{k}={v}"
            for k, v in parse_qsl(split.query, keep_blank_values=False)
            if not (k.startswith("utm_") or k in ("fbclid", "gclid",
                                                  "msclkid", "ref"))
        )
        got_q = r["canon"].split("?", 1)[1] if "?" in r["canon"] else ""
        got_params = sorted(p for p in got_q.split("&") if p)
        assert got_params == want_params, (r["url"], r["canon"])


def test_quality_funnel(spark):
    from bib_dedupe_spark.textops.quality import quality_funnel

    docs = spark.createDataFrame(
        [
            (1, "too short"),                                # < 10 tokens
            (2, " ".join(["w"] * 40)),                       # 1 distinct/40
            (3, " ".join("0101 2323 4545 6767 8989 1212 3434 5656 7878 9090 1111 2222".split())),  # no alpha
            (4, " ".join(["alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"] * 4)),  # dup 3-grams
            (5, "this is a perfectly ordinary sentence with plenty of distinct readable words here"),
        ],
        ["doc_id", "text"],
    )
    got = {r["gate"]: r["n_docs"] for r in quality_funnel(docs).collect()}
    assert got == {
        "too_short": 1,
        "low_uniq": 1,
        "low_alpha": 1,
        "repetitive": 1,
        "kept": 1,
    }, got


def test_host_profiles(spark):
    from datetime import datetime

    from bib_dedupe_spark.textops import urls

    rows = [
        ("https://a.org/x", "hello world text here", datetime(2026, 1, 1)),
        ("https://a.org/x?utm_source=f", "hello world text here", datetime(2026, 1, 2)),  # re-crawl
        ("https://a.org/y", "more text", datetime(2026, 1, 1)),
        ("https://b.org/z", "short", datetime(2026, 1, 1)),
    ]
    pages = spark.createDataFrame(rows, ["url", "text", "warc_ts"])
    prof = {r["host"]: r.asDict() for r in urls.host_profiles(pages).collect()}
    a = prof["a.org"]
    assert a["n_pages"] == 3 and a["n_unique_urls"] == 2
    assert abs(a["dup_rate"] - 1 / 3) < 1e-6
    assert a["total_chars"] == len(rows[0][1]) * 2 + len(rows[2][1])
    b = prof["b.org"]
    assert b["n_pages"] == 1 and b["dup_rate"] == 0.0


def test_url_ipv6_hosts(spark):
    """IPv6 bracket literals: colons inside brackets are address chars,
    not port separators; default-port stripping still applies."""
    from bib_dedupe_spark.textops import urls

    df = spark.createDataFrame(
        [
            ("http://[::1]:8080/x",),
            ("HTTP://[2001:DB8::1]:80/path",),
            ("https://[2001:db8::1]:443/p",),
            ("http://user@[::1]:9/x",),
        ],
        ["url"],
    )
    got = {
        r["url"]: (r["h"], r["c"])
        for r in df.select(
            "url",
            urls.url_host("url").alias("h"),
            urls.normalize_url("url").alias("c"),
        ).collect()
    }
    assert got["http://[::1]:8080/x"] == ("[::1]", "http://[::1]:8080/x")
    assert got["HTTP://[2001:DB8::1]:80/path"] == (
        "[2001:db8::1]", "http://[2001:db8::1]/path")
    assert got["https://[2001:db8::1]:443/p"] == (
        "[2001:db8::1]", "https://[2001:db8::1]/p")
    assert got["http://user@[::1]:9/x"] == ("[::1]", "http://[::1]:9/x")


def test_lsh_topk_multi_table(spark):
    """n_tables>1 switches to seeded random-hyperplane multi-table LSH:
    any-table collision makes a candidate, duplicates collapse to one
    row per (query, neighbor), and a true near-duplicate that single-
    table axis buckets can miss is recovered."""
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.normal(size=12)
    base /= np.linalg.norm(base)
    near = base + rng.normal(size=12) * (0.25 / np.sqrt(12))
    near /= np.linalg.norm(near)
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in near])]
    for i in range(2, 40):
        v = rng.normal(size=12)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = similarity_search.lsh_topk(
        vecs.filter("vec_id = 0"), vecs, k=3, n_planes=6, n_tables=8
    ).collect()
    by_rank = {r["rank"]: r for r in top}
    assert by_rank[1]["neighbor_id"] == 1  # the planted near-dup
    # one row per (query, neighbor) even though tables collide repeatedly
    pairs = [(r["query_id"], r["neighbor_id"]) for r in top]
    assert len(pairs) == len(set(pairs))
    # determinism: the seeded planes give identical output on re-run
    again = similarity_search.lsh_topk(
        vecs.filter("vec_id = 0"), vecs, k=3, n_planes=6, n_tables=8
    ).collect()
    assert sorted(map(tuple, top)) == sorted(map(tuple, again))
