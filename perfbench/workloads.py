"""The benchmark workloads: inputs, untimed warm pass, timed work, traced work.

Each workload exposes the same five calls, used by ``run.py``:

* ``make_inputs(out_dir, seed, scale)`` writes the seeded parquet inputs;
* ``once(spark, inp, work)`` runs one unit of work untraced and returns
  ``(wall_s, latencies, output)``; a unit is one ``dedupe()`` pass, one
  stream of micro-batches or one sweep of the headline queries;
* ``check(spark, inp, output)`` returns ``(f1, problems)``;
* ``traced(spark, inp, tracer, work)`` runs the unit again with a span
  around every layer call, materializing each layer's output before the
  next layer starts, and returns ``(output, extras)``;
* ``same(a, b)`` compares the outputs of two units.
"""
from __future__ import annotations

import os
import statistics
import time

# each workload's ``sizes`` holds its input size per scale: "full" is
# measured, "warm" is the untimed pass run at set-up (from another seed),
# "tiny" is the self-test


def _median(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def _pairs(clusters) -> set:
    out = set()
    for members in clusters:
        members = sorted(members)
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                out.add(frozenset((a, b)))
    return out


def _f1(clusters, golden: set) -> float:
    from bib_dedupe_spark.sources.synthetic import pairwise_scores

    return pairwise_scores(_pairs(clusters), golden)["f1"]


def _canonical(clusters) -> frozenset:
    return frozenset(frozenset(c) for c in clusters if len(c) > 1)


# ------------------------------------------------------------------ dedupe


class BibDense:
    """A messy bibliographic corpus run through ``dedupe()`` as one plan,
    to a parquet write."""

    name = "bib_dense"
    sizes = {"full": 2000, "warm": 40, "tiny": 40}
    max_block_size = 1000  # dedupe()'s default, so traced == untraced
    unit_s = 5.0  # nominal pass time on a 4-core host
    check_each = True

    def make_inputs(self, out_dir, seed, scale):
        from perfbench import inputs

        return dict(inputs.bib_corpus(out_dir, self.sizes[scale], seed), units=1)

    def records(self, spark, inp):
        return spark.read.parquet(inp["records"])

    def once(self, spark, inp, work):
        from bib_dedupe_spark import dedupe

        out = _fresh(work, "dedupe")
        records = self.records(spark, inp)
        t0 = time.perf_counter()
        dedupe(records, max_block_size=self.max_block_size).write.mode(
            "overwrite"
        ).parquet(out)
        wall = time.perf_counter() - t0
        return wall, [wall], out

    def clusters(self, spark, out) -> list:
        rows = spark.read.parquet(out).select("origin").collect()
        return [r["origin"].split(";") for r in rows]

    def check(self, spark, inp, out):
        clusters = self.clusters(spark, out)
        problems = []
        seen = [i for c in clusters for i in c]
        if len(seen) != len(set(seen)) or set(seen) != set(inp["ids"]):
            problems.append("output origins do not partition the input ids")
        f1 = _f1(clusters, inp["golden"])
        if f1 < 0.99:
            problems.append(f"pairwise F1 {f1:.4f} < 0.99")
        return f1, problems

    def same(self, spark, a, b) -> bool:
        return _canonical(self.clusters(spark, a)) == _canonical(self.clusters(spark, b))

    def traced(self, spark, inp, tracer, work):
        from pyspark.sql import functions as F

        from bib_dedupe_spark import block, cluster, match, merge, prep

        out = _fresh(work, "traced")
        records = self.records(spark, inp)
        rows = {}
        with tracer.span("prep"):
            prepared = prep(records).persist()
            rows["prep"] = prepared.count()
        with tracer.span("block"):
            pairs = block(prepared, max_block_size=self.max_block_size).persist()
            rows["block"] = pairs.count()
        with tracer.span("match"):
            matched = match(pairs).persist()
            rows["match"] = matched.count()
        with tracer.span("cluster"):
            components = cluster(matched).persist()
            rows["cluster"] = components.count()
        with tracer.span("merge"):
            merge(records, components).write.mode("overwrite").parquet(out)
        with tracer.span("probe"):
            rows["merge"] = spark.read.parquet(out).count()
            extras = _block_probe(prepared)
            dups = matched.filter(F.col("duplicate_label") == "duplicate").count()
            undecided, total = _undecided([pairs])
            sizes = components.groupBy("component").count().agg(
                F.count("*").alias("n"), F.max("count").alias("biggest")
            ).first()
        for df in (prepared, pairs, matched, components):
            df.unpersist()
        extras.update({f"{layer}.rows_out": n for layer, n in rows.items()})
        extras.update(
            {
                "block.pairs_per_record": rows["block"] / max(rows["prep"], 1),
                "match.dup_frac": dups / max(rows["block"], 1),
                "match.undecided_frac": undecided / max(total, 1),
                "cluster.components": sizes["n"],
                "cluster.max_component": sizes["biggest"] or 0,
            }
        )
        return out, extras


# --------------------------------------------------------------- streaming


class WebIncremental:
    """Equal micro-batches linked through ``link_batch`` against the corpus.

    The timed unit is the whole stream. Batch 0 finds an empty corpus and
    blocks on its own; every later batch blocks against the corpus index.
    """

    name = "web_incremental"
    sizes = {"full": (600, 2), "warm": (30, 0), "tiny": (40, 2)}
    unit_s = float("inf")  # one stream per run
    check_each = True

    def make_inputs(self, out_dir, seed, scale):
        from perfbench import inputs

        n_pages, n_batches = self.sizes[scale]
        return dict(inputs.web_batches(out_dir, n_pages, n_batches, seed), units=n_batches + 1)

    def _stream(self, spark, inp, work, tracer=None):
        from bib_dedupe_spark.streaming.dedup_stream import link_batch

        sink = _fresh(work, "stream")
        paths = tuple(os.path.join(sink, s) for s in ("corpus", "edges", "keys"))
        frames = [spark.read.parquet(p) for p in inp["batches"]]
        latencies = []
        for batch_id, frame in enumerate(frames):
            t0 = time.perf_counter()
            if tracer is None:
                link_batch(frame, batch_id, *paths)
            else:
                with tracer.span("streaming"):
                    link_batch(frame, batch_id, *paths)
            latencies.append(time.perf_counter() - t0)
        return latencies, sink

    def once(self, spark, inp, work):
        latencies, sink = self._stream(spark, inp, work)
        return sum(latencies), latencies, sink

    def _edges(self, spark, sink):
        from pyspark.sql import functions as F

        return spark.read.parquet(os.path.join(sink, "edges")).filter(
            F.col("duplicate_label") == "duplicate"
        )

    def clusters(self, spark, sink) -> list:
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in self._edges(spark, sink).select("ID_1", "ID_2").collect():
            parent[find(r["ID_1"])] = find(r["ID_2"])
        groups: dict = {}
        for node in parent:
            groups.setdefault(find(node), []).append(node)
        return list(groups.values())

    def check(self, spark, inp, sink):
        problems = []
        ids = [r["ID"] for r in spark.read.parquet(os.path.join(sink, "corpus")).select("ID").collect()]
        if len(ids) != len(set(ids)) or set(ids) != set(inp["ids"]):
            problems.append("corpus sink does not hold every page exactly once")
        f1 = _f1(self.clusters(spark, sink), inp["golden"])
        if f1 < 0.99:
            problems.append(f"pairwise F1 {f1:.4f} < 0.99")
        return f1, problems

    def same(self, spark, a, b) -> bool:
        return _canonical(self.clusters(spark, a)) == _canonical(self.clusters(spark, b))

    def traced(self, spark, inp, tracer, work):
        """The stream with a span around each ``link_batch`` call and, inside
        it, around each call it makes into prep, block and match.

        ``link_batch`` imports those layers when it is called, so the spans
        are put in by swapping the module attributes it imports for the
        length of the stream.
        """
        import bib_dedupe_spark
        import bib_dedupe_spark.operators.block as block_mod
        import bib_dedupe_spark.operators.match as match_mod

        rows = {"prep": 0, "block": 0, "match": 0}
        held: list = []
        pair_frames: list = []

        def spanned(layer, fn):
            def call(*args, **kwargs):
                with tracer.span(layer):
                    out = fn(*args, **kwargs).persist()
                    rows[layer] += out.count()
                held.append(out)
                if layer == "block":
                    pair_frames.append(out)
                return out

            return call

        patches = [
            (bib_dedupe_spark, "prep", "prep"),
            (bib_dedupe_spark, "block", "block"),
            (block_mod, "block_delta", "block"),
            (match_mod, "match", "match"),
        ]
        originals = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
        for mod, attr, layer in patches:
            setattr(mod, attr, spanned(layer, getattr(mod, attr)))
        try:
            _, sink = self._stream(spark, inp, work, tracer)
        finally:
            for mod, attr, fn in originals:
                setattr(mod, attr, fn)
        with tracer.span("probe"):
            extras = _block_probe(spark.read.parquet(os.path.join(sink, "corpus")))
            undecided, total = _undecided(pair_frames)
            per_batch = self._edges(spark, sink).groupBy("_batch").count().collect()
        for df in held:
            df.unpersist()
        counts = {r["_batch"]: r["count"] for r in per_batch}
        edges = [counts.get(b, 0) for b in range(len(inp["batches"]))]
        extras.update({f"{layer}.rows_out": n for layer, n in rows.items()})
        extras.update(
            {
                "streaming.edges_per_batch": _median(edges),
                "block.pairs_per_record": rows["block"] / max(rows["prep"], 1),
                "match.dup_frac": sum(edges) / max(rows["block"], 1),
                "match.undecided_frac": undecided / max(total, 1),
            }
        )
        return sink, extras


def _block_probe(prepared) -> dict:
    """Hot keys (groups above the salt bucket) and the largest key group."""
    from pyspark.sql import functions as F

    from bib_dedupe_spark.operators.block import SALT_BUCKET_SIZE, blocking_key_stats

    # both workloads run with max_block_size 1000, so the bucket is 512
    row = blocking_key_stats(prepared).agg(
        F.sum((F.col("group_size") > SALT_BUCKET_SIZE).cast("long")).alias("hot"),
        F.max("group_size").alias("biggest"),
    ).first()
    return {"block.hot_keys": row["hot"] or 0, "block.max_key_group": row["biggest"] or 0}


def _undecided(pair_frames: list) -> tuple:
    """(undecided, total) pairs after the staged match's cheap bounds."""
    from bib_dedupe_spark.operators.match import staged_decision_stats

    stats = [staged_decision_stats(pairs) for pairs in pair_frames]
    return sum(s["undecided"] for s in stats), sum(s["total"] for s in stats)


# ---------------------------------------------------------------- harness


class HeadlineQueries:
    """bench.py's ten headline queries, each written to the noop sink."""

    name = "headline_queries"
    sizes = {
        "full": (3000, 1200, 60_000),
        "warm": (200, 100, 2_000),
        "tiny": (200, 100, 2_000),
    }
    unit_s = 5.0  # nominal sweep time on a 4-core host
    check_each = False

    @staticmethod
    def names() -> list:
        from bench import HEADLINE

        return list(HEADLINE)

    def make_inputs(self, out_dir, seed, scale):
        from perfbench import inputs

        tables = inputs.headline_tables(out_dir, *self.sizes[scale], seed)
        return dict(tables, units=len(self.names()))

    def once(self, spark, inp, work):
        from bib_dedupe_spark.harness import QUERIES

        # the sweep is the latency unit: the median of ten queries of very
        # different cost jumps between neighbouring queries from run to run
        t0 = time.perf_counter()
        for name in self.names():
            QUERIES[name](spark, inp["dir"]).write.format("noop").mode(
                "overwrite"
            ).save()
        wall = time.perf_counter() - t0
        return wall, [wall], None

    def results(self, spark, inp) -> dict:
        from bib_dedupe_spark.harness import QUERIES
        from perfbench.oracle import digest_frame

        return {
            name: digest_frame(QUERIES[name](spark, inp["dir"]).toPandas())
            for name in self.names()
        }

    def check(self, spark, inp, _output):
        import numpy as np

        from perfbench.oracle import expected_results

        got = self.results(spark, inp)
        want = expected_results(inp["dir"], inp["docs"], self.names())
        problems = [
            f"{name}: (columns, rows, hash) {got[name][:3]} != oracle {want[name][:3]}"
            for name in self.names()
            if got[name][:3] != want[name][:3]
        ]
        # F1 of the result rows (as a multiset) against the oracle's rows
        tp = n_got = n_want = 0
        for name in self.names():
            g, w = got[name][3], want[name][3]
            n_got, n_want = n_got + len(g), n_want + len(w)
            gv, gc = np.unique(g, return_counts=True)
            wv, wc = np.unique(w, return_counts=True)
            _, gi, wi = np.intersect1d(gv, wv, assume_unique=True, return_indices=True)
            tp += int(np.minimum(gc[gi], wc[wi]).sum())
        return 2 * tp / max(n_got + n_want, 1), problems

    def same(self, spark, a, b) -> bool:
        return a == b

    def traced(self, spark, inp, tracer, work):
        import bib_dedupe_spark.operators.cluster as cluster_mod
        from pyspark.sql import functions as F

        from bib_dedupe_spark.harness import QUERIES

        original = cluster_mod.connected_components
        outputs = []

        def traced_cc(edges, **kwargs):
            with tracer.span("cluster"):
                components = original(edges, **kwargs).persist()
                components.count()
            outputs.append(components)
            return components

        cluster_mod.connected_components = traced_cc
        try:
            for name in self.names():
                with tracer.span(f"harness.{name}"):
                    QUERIES[name](spark, inp["dir"]).write.format("noop").mode(
                        "overwrite"
                    ).save()
        finally:
            cluster_mod.connected_components = original
        with tracer.span("probe"):
            sizes = [
                components.groupBy("component").count().agg(
                    F.count("*").alias("n"),
                    F.sum("count").alias("rows"),
                    F.max("count").alias("biggest"),
                ).first()
                for components in outputs
            ]
        spark.catalog.clearCache()
        return None, {
            "cluster.rows_out": sum(r["rows"] or 0 for r in sizes),
            "cluster.components": sum(r["n"] for r in sizes),
            "cluster.max_component": max((r["biggest"] or 0 for r in sizes), default=0),
        }


def _fresh(work: str, stem: str) -> str:
    n = len([d for d in os.listdir(work) if d.startswith(stem)])
    path = os.path.join(work, f"{stem}{n}")
    os.makedirs(path)
    return path


WORKLOADS = {
    w.name: w for w in (BibDense(), WebIncremental(), HeadlineQueries())
}
