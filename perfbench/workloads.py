"""The benchmark's workloads.  Each is a closed loop with one client: the
next op is sent when the previous one has returned.

A workload ``prepare``s its inputs and references once, ``build``s its
catalog (the runner builds several times and keeps the last), and yields an
endless op sequence from ``ops``.  The op classes follow a fixed pattern
that every seed shares, so every run measures the same mix; the seed draws
the inputs and each op's arguments.  ``check`` compares every op's output
with a reference that does not use the engine code under test: pandas or
numpy over the generated inputs, the clusters of the warm-up, or the DuckDB
oracle of a corpus query.
"""

from __future__ import annotations

import itertools
import math
import os
from dataclasses import dataclass, field
from typing import Any

import numpy as np

import inputs
import measure

# files per index written in setup: one per core, as an index has a shard
# per node
SHARDS = 4


@dataclass
class Op:
    """One operation of a workload's sequence."""

    kind: str
    args: dict = field(default_factory=dict)


def _rows(df) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


class Workload:
    name = ""
    # docs each op writes or reads as its unit of work (0: not one size)
    docs_per_op = 0
    # catalog index whose files the traced run walks
    index = ""
    # ops of one period of the op pattern; the measured window runs whole
    # periods, so every run measures the same mix
    period = 1

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, spark, work_dir: str) -> None:
        """Generate inputs and references (once per run)."""
        self.spark = spark

    def build(self, root: str) -> None:
        """Build the catalog under ``root``; the last build is the one the
        ops use."""
        raise NotImplementedError

    def ops(self):
        raise NotImplementedError

    def run(self, op: Op) -> Any:
        raise NotImplementedError

    def check(self, op: Op, result: Any) -> bool:
        raise NotImplementedError


# --------------------------------------------------------------- search_mix
# Benched corpus queries (bench.py) that read only events, documents or
# embeddings.  Frozen here so that an edit of bench.py cannot change what
# the ``corpus`` op class measures.  They run the corpus layer's parquet
# reads (schema inference), ES|QL, a streaming read of a transactional
# index (``read_index_stream`` into a complete-mode aggregation) and an
# ingest pipeline.  One runs per pattern period, in this order in every
# run, so the warm-up (one period per query) runs each of them once.
CORPUS_QUERIES = (
    "esql_bucket_filtered_stats",
    "writepath_stream_source",
    "ingest_pipeline_events",
)


class SearchMix(Workload):
    """Read ops against a catalog of ``events``, ``documents`` and
    ``embeddings``, plus benched corpus queries over the same tables read as
    parquet files.  By latency the classes rank count < search < knn < aggs
    < corpus < bm25; with 1 count and 7 searches in every 12 ops the median
    falls inside ``search`` (ranks 8-67%) and the 90th percentile inside
    ``corpus`` (ranks 83-92%)."""

    name = "search_mix"
    index = "events"
    SIZES = inputs.Sizes(events=100_000, documents=5_000, embeddings=2_000)
    PATTERN = (
        "search", "count", "search", "knn", "search", "bm25",
        "search", "aggs", "search", "corpus", "search", "search",
    )
    period = len(PATTERN)

    def prepare(self, spark, work_dir: str) -> None:
        import duckdb

        from elasticsearch_hadoop_spark.corpus import load_all

        super().prepare(spark, work_dir)
        self.tables = inputs.generate(self.seed, self.SIZES)
        self.sf_dir = os.path.join(work_dir, "tables")
        inputs.write_parquet(self.tables, self.sf_dir)
        registry = load_all()
        self.specs = {n: registry[n] for n in CORPUS_QUERIES}
        con = duckdb.connect()
        try:
            for name in self.tables:
                path = os.path.join(self.sf_dir, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            self.oracle = {}
            for n, spec in self.specs.items():
                cur = con.execute(spec.oracle)
                cols = [d[0] for d in cur.description]
                self.oracle[n] = measure.canon_hash([dict(zip(cols, r)) for r in cur.fetchall()], cols)
        finally:
            con.close()
        self.ev = self.tables["events"]
        docs = self.tables["documents"]
        self.doc_ids = docs["doc_id"].to_numpy()
        self.doc_toks = [t.split() for t in docs["text"]]
        emb = self.tables["embeddings"]
        self.emb = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        self.emb_label = emb["label"].to_numpy()
        self.emb_ids = emb["vec_id"].to_numpy()

    def build(self, root: str) -> None:
        from elasticsearch_hadoop_spark.catalog import Catalog

        self.catalog = Catalog(self.spark, root)
        for name in self.tables:
            df = self.spark.read.parquet(os.path.join(self.sf_dir, f"{name}.parquet"))
            if name == "events":
                # Z-ordered on the two columns the search, count and aggs
                # ops filter by ranges, so their scans can skip files
                ev = self.tables["events"]
                bounds = {c: (float(ev[c].min()), float(ev[c].max())) for c in ("value", "user_id")}
                self.catalog.write_index(
                    df, name, mode="overwrite", zorder_by=list(bounds), zorder_bounds=bounds
                )
            else:
                self.catalog.write_index(df.repartition(SHARDS), name, mode="overwrite")

    def ops(self):
        rng = np.random.default_rng([self.seed, 1])
        for i, kind in enumerate(itertools.cycle(self.PATTERN)):
            if kind == "search":
                lo = round(float(rng.uniform(0, 150)), 2)
                args = {"type": str(rng.choice(inputs.EVENT_TYPES)), "lo": lo, "hi": lo + 40}
            elif kind == "count":
                args = {"type": str(rng.choice(inputs.EVENT_TYPES)), "lo": round(float(rng.uniform(0, 100)), 2)}
            elif kind == "aggs":
                args = {"user_lt": int(rng.integers(100, 1400))}
            elif kind == "knn":
                v = rng.normal(size=inputs.EMBED_DIM)
                args = {"vec": (v / np.linalg.norm(v)).tolist(), "label": int(rng.integers(0, 10))}
            elif kind == "corpus":
                # round-robin: every query equally often, in the same order
                args = {"name": CORPUS_QUERIES[i // len(self.PATTERN) % len(CORPUS_QUERIES)]}
            else:
                args = {"text": " ".join(rng.choice(inputs.VOCAB, 3))}
            yield Op(kind, args)

    def run(self, op: Op) -> Any:
        from elasticsearch_hadoop_spark import search
        from elasticsearch_hadoop_spark.aggs_dsl import compile_aggs

        a, cat = op.args, self.catalog
        if op.kind == "search":
            q = {"bool": {"filter": [
                {"term": {"event_type": a["type"]}},
                {"range": {"value": {"gte": a["lo"], "lt": a["hi"]}}},
            ]}}
            df = search.search(
                cat.read_index("events", query=q),
                {"sort": [{"value": "desc"}], "size": 10},
                id_col="event_id",
            )
            return [(r["event_id"], r["value"]) for r in df.collect()]
        if op.kind == "count":
            q = {"bool": {"filter": [
                {"term": {"event_type": a["type"]}},
                {"range": {"value": {"gte": a["lo"]}}},
            ]}}
            return cat.count_index("events", query=q)
        if op.kind == "aggs":
            df = compile_aggs(
                cat.read_index("events", query={"range": {"user_id": {"lt": a["user_lt"]}}}),
                {"aggs": {"t": {"terms": {"field": "event_type"},
                                "aggs": {"v": {"sum": {"field": "value"}}}}}},
            )
            return _rows(df)
        if op.kind == "knn":
            df = search.knn_search(
                cat.read_index("embeddings"),
                {"field": "embedding", "query_vector": a["vec"], "k": 10,
                 "filter": {"term": {"label": a["label"]}}},
                tiebreaker="vec_id",
            )
            return [(r["vec_id"], r["_score"]) for r in df.collect()]
        if op.kind == "corpus":
            df = self.specs[a["name"]].fn(self.spark, self.sf_dir)
            return measure.canon_hash(_rows(df), df.columns)
        df = search.bm25_topk(cat.read_index("documents"), "text", a["text"], k=10, tiebreak=["doc_id"])
        return [(r["doc_id"], r["_score"]) for r in df.collect()]

    def check(self, op: Op, result: Any) -> bool:
        a, ev = op.args, self.ev
        if op.kind == "search":
            m = ev[(ev.event_type == a["type"]) & (ev.value >= a["lo"]) & (ev.value < a["hi"])]
            m = m.sort_values(["value", "event_id"], ascending=[False, True]).head(10)
            return result == list(zip(m.event_id.tolist(), m.value.tolist()))
        if op.kind == "count":
            return result == int(((ev.event_type == a["type"]) & (ev.value >= a["lo"])).sum())
        if op.kind == "aggs":
            g = ev[ev.user_id < a["user_lt"]].groupby("event_type")["value"]
            want = {t: (int(n), s) for (t, n), s in zip(g.size().items(), g.sum())}
            got = {r["t"]: (r["doc_count"], r["v"]) for r in result}
            return got.keys() == want.keys() and all(
                got[t][0] == want[t][0] and math.isclose(got[t][1], want[t][1], rel_tol=1e-9)
                for t in want
            )
        if op.kind == "knn":
            sel = self.emb_label == a["label"]
            cos = self.emb[sel] @ np.asarray(a["vec"]) / np.linalg.norm(self.emb[sel], axis=1)
            score = (1.0 + cos) / 2.0
            order = np.lexsort((self.emb_ids[sel], -score))
            ref = [(int(self.emb_ids[sel][i]), float(score[i])) for i in order]
            return measure.topk_matches(result, ref, 10)
        if op.kind == "corpus":
            return result == self.oracle[a["name"]]
        return measure.topk_matches(result, self._bm25_ref(a["text"].split()), 10)

    def _bm25_ref(self, terms: list[str], k1: float = 1.2, b: float = 0.75) -> list[tuple]:
        """Lucene BM25 (the formula ``search.bm25_score`` documents) over the
        generated documents, best first with ascending-id ties."""
        n = float(len(self.doc_toks))
        dl = np.array([len(t) for t in self.doc_toks], dtype=float)
        norm = k1 * ((1.0 - b) + b * dl / (dl.sum() / n))
        scores = np.zeros(len(self.doc_toks))
        for term in terms:
            tf = np.array([t.count(term) for t in self.doc_toks], dtype=float)
            df = float((tf > 0).sum())
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            scores += np.where(tf > 0, idf * (tf * (k1 + 1.0)) / (tf + norm), 0.0)
        hit = scores > 0
        order = np.lexsort((self.doc_ids[hit], -scores[hit]))
        return [(int(self.doc_ids[hit][i]), float(scores[hit][i])) for i in order]


# ----------------------------------------------------------- dedup_pipeline
class DedupPipeline(Workload):
    """MinHash-LSH pairs, then duplicate clusters, then the keepers upserted
    by ``doc_id`` into a transactional index and counted.  The corpus holds
    random documents plus planted near-duplicate chains, so connected
    components runs several rounds.  Every op processes the same corpus;
    the first (warm-up) op creates the keepers index and every later one
    updates each keeper in place, so from the second op on every op does
    the same work on the same state."""

    name = "dedup_pipeline"
    index = "keepers"
    # every op is the same; windows of 3 ops keep the median on 3 samples
    # in every run
    period = 3
    N_DOCS, N_CHAINS, CHAIN_LEN = 1_500, 60, 6
    docs_per_op = N_DOCS + N_CHAINS * CHAIN_LEN
    RECALL_FLOOR = 0.9

    def prepare(self, spark, work_dir: str) -> None:
        super().prepare(spark, work_dir)
        rng = np.random.default_rng([self.seed, 5])
        self.corpus, self.planted = inputs.dedup_corpus(rng, self.N_DOCS, self.N_CHAINS, self.CHAIN_LEN)
        self.expected: dict | None = None

    def build(self, root: str) -> None:
        from pyspark.sql import functions as F

        from elasticsearch_hadoop_spark.catalog import Catalog

        self.catalog = Catalog(self.spark, root, transactional=True)
        df = self.spark.createDataFrame(self.corpus)
        # a bulk load in two blind appends, then compacted to one file per
        # shard: the benchmark's compaction.  It runs once, in set-up: one
        # more commit per op would not fit a run's time budget (README).
        for half in range(2):
            self.catalog.write_index(df.filter(F.col("doc_id") % 2 == half), "corpus")
        self.catalog.compact_index("corpus", target_files=SHARDS)

    def ops(self):
        return itertools.repeat(Op("dedup"))

    def run(self, op: Op) -> Any:
        from pyspark.sql import functions as F

        from elasticsearch_hadoop_spark.operators.cc import duplicate_clusters
        from elasticsearch_hadoop_spark.operators.dedup import minhash_lsh_pairs

        docs = self.catalog.read_index("corpus")
        pairs = minhash_lsh_pairs(docs, "doc_id")
        clusters = duplicate_clusters(pairs, "id_a", "id_b")
        labels = {r["node"]: r["cluster_id"] for r in clusters.select("node", "cluster_id").collect()}
        dropped = clusters.filter(~F.col("is_canonical")).select(F.col("node").alias("doc_id"))
        self.catalog.write_index(
            docs.join(dropped, "doc_id", "left_anti"), "keepers",
            operation="upsert", id_col="doc_id",
        )
        return {"labels": labels, "keepers": self.catalog.count_index("keepers")}

    def check(self, op: Op, result: Any) -> bool:
        labels = result["labels"]
        if result["keepers"] != self.docs_per_op - len(labels) + len(set(labels.values())):
            return False
        if self.expected is None:  # the first (warm-up) op fixes the clusters
            self.expected = labels
        found = sum(1 for a, b in self.planted if a in labels and labels.get(a) == labels.get(b))
        return labels == self.expected and found / len(self.planted) >= self.RECALL_FLOOR

    def verify_yield(self) -> float:
        """Verified pairs per LSH candidate pair.  The candidates are the
        pairs ``minhash_lsh_pairs`` keeps at a Jaccard threshold of 0."""
        from elasticsearch_hadoop_spark.operators.dedup import minhash_lsh_pairs

        docs = self.catalog.read_index("corpus")
        candidates = minhash_lsh_pairs(docs, "doc_id", threshold=0.0).count()
        return minhash_lsh_pairs(docs, "doc_id").count() / candidates if candidates else 0.0


WORKLOADS = {w.name: w for w in (SearchMix, DedupPipeline)}
