"""``corpus_curation``: the similarity, pagerank and ``mapInPandas``
kernel rows of ``bench.py`` over a seeded corpus.

The rows are the same functions ``bench.py`` times (imported from it);
only their input tables are generated here, so the benchmark reads
nothing outside its checkout. A cycle is one pass over the five rows,
each built and collected in one timed window.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.cache import release_tracked
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.dedup_queries import (
    _JACCARD_BODY,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.pagerank import (
    _free_checkpoint,
    pagerank,
    synthetic_link_graph,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.similarity_queries import (
    _CTES,
    _LSH_SQL,
)

import bench

# Corpus shape. Pagerank gets 10 nodes and 100 edges per document, as
# bench.pagerank_throughput sizes it. The image and video rows take the
# documents with doc_id < 600 / < 240 as media items, and the synthetic
# media corpora group doc_id // variants as duplicates. They read a
# corpus of their own, the first MEDIA_DOCS documents: at that size the
# pairs are every within-group pair and nothing else, which the gate
# checks. At 240 documents the perceptual hashes already pair some
# images across groups and miss a video pair, so no exact oracle holds.
N_DOCS, MEDIA_DOCS, N_VECS, DIM = 600, 60, 1000, 64
IMAGE_VARIANTS, VIDEO_VARIANTS = 6, 4
MEDIA_ROWS = ("image_near_dup_pairs", "video_near_dup_pairs")
ROWS = (
    "dedup_jaccard_pairs",
    "image_near_dup_pairs",
    "video_near_dup_pairs",
    "knn_lsh_bucketed",
    "pagerank_crawl_graph",
)
_WORDS = (
    "spark batch stream table query join scan filter group order window "
    "hash sort merge vector row column key value data line part agg fast "
    "slow big small customer the a of"
).split()


def write_corpus(sf_dir: str, media_dir: str, seed: int) -> None:
    """documents (every fifth document a perturbed copy of an earlier
    one, so near-duplicate pairs exist) and clustered embeddings; the
    first MEDIA_DOCS documents again under ``media_dir``."""
    rng = random.Random(seed)
    texts = []
    for i in range(N_DOCS):
        if i % 5 == 4:
            words = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(words) // 10)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randint(8, 80))]
        texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": texts,
            "lang": [rng.choice(("en", "es", "fr", "de", "zh")) for _ in texts],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    for d, t in ((sf_dir, docs), (media_dir, docs.slice(0, MEDIA_DOCS))):
        os.makedirs(d, exist_ok=True)
        pq.write_table(t, os.path.join(d, "documents.parquet"))
    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(10, DIM))
    labels = nrng.integers(0, 10, size=N_VECS)
    vecs = (centers[labels] + 0.3 * nrng.normal(size=(N_VECS, DIM))).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(N_VECS), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )


def _dense_pagerank(edges, alpha: float, iters: int) -> dict:
    """Independent power iteration: parallel edges collapse, self-loops
    drop, dangling nodes spread their rank uniformly."""
    nodes = sorted({u for e in edges for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    pairs = np.array([(idx[s], idx[d]) for s, d in set(edges) if s != d]).reshape(-1, 2)
    n = len(nodes)
    out_deg = np.bincount(pairs[:, 0], minlength=n).astype(float)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(pairs[:, 1], weights=r[pairs[:, 0]] / out_deg[pairs[:, 0]], minlength=n)
        r = (1.0 - alpha) / n + alpha * (contrib + r[out_deg == 0].sum() / n)
    return dict(zip(nodes, r))


class CorpusCuration:
    #: after the two warm-up passes, consecutive passes of a run agree
    #: within a few percent, so one timed pass keeps the run short
    min_cycles = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "corpus")
        self.media_dir = os.path.join(ctx.work, "media")

    def setup(self) -> None:
        write_corpus(self.sf_dir, self.media_dir, self.ctx.seed)
        extra = bench._extra_queries()
        spark = self.ctx.spark
        self.edges = synthetic_link_graph(spark, N_DOCS * 10, N_DOCS * 100)
        self.rows = {name: extra[name] for name in ROWS if name in extra}
        # Two warm-up passes: the first pass in a fresh JVM runs far slower
        # than the ones after it (JIT compiling, Python workers forking),
        # and the second still ran 8-20% slower than the third.
        for _ in range(2):
            self.cycle()

    def _frame(self, name: str):
        if name == "pagerank_crawl_graph":
            return pagerank(self.edges, max_iters=4, tol=0.0)
        return self.rows[name](
            self.ctx.spark, self.media_dir if name in MEDIA_ROWS else self.sf_dir
        )

    def cycle(self) -> dict:
        """One pass over the rows. Each row's frame is built and
        collected in one timed window; the collected rows of the last
        pass are what the gate checks."""
        ctx = self.ctx
        times, self.results = [], {}
        t0 = time.perf_counter()
        for name in ROWS:
            ctx.attempt("curation")
            with ctx.tracer.span(f"curation.{name}"):
                t = time.perf_counter()
                df = self._frame(name)
                self.results[name] = df.collect()
                times.append((name, time.perf_counter() - t))
            if name == "pagerank_crawl_graph":
                _free_checkpoint(df)
            release_tracked()
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "busy_s": wall, "t_end": time.time(), "queries": times}

    def check(self) -> dict:
        import duckdb

        sf, res = self.sf_dir, self.results
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        checks = {}

        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in res["dedup_jaccard_pairs"]}
        want = dict(
            ((a, b), j)
            for a, b, j in con.execute(
                "WITH " + _JACCARD_BODY + "SELECT id_a, id_b, jaccard FROM pairs"
            ).fetchall()
        )
        checks["jaccard_oracle"] = bool(want) and got.keys() == want.keys() and all(
            abs(got[k] - want[k]) <= 1e-9 for k in want
        )

        got = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
            for r in res["knn_lsh_bucketed"]
        }
        want = {
            (q, rank): (nb, s)
            for _m, q, nb, s, rank in con.execute("WITH " + _CTES + _LSH_SQL).fetchall()
        }
        checks["knn_lsh_oracle"] = bool(want) and got.keys() == want.keys() and all(
            got[k][0] == want[k][0] and abs(got[k][1] - want[k][1]) <= 1e-6 for k in want
        )
        con.close()

        for name, variants, cols in (
            ("image_near_dup_pairs", IMAGE_VARIANTS, ("id_a", "id_b")),
            ("video_near_dup_pairs", VIDEO_VARIANTS, ("doc_a", "doc_b")),
        ):
            ids = range(MEDIA_DOCS)
            want = {(a, b) for a in ids for b in ids if a < b and a // variants == b // variants}
            got = {(r[cols[0]], r[cols[1]]) for r in res[name]}
            checks[f"{name}_groups"] = got == want

        ranks = {r["node"]: r["rank"] for r in res["pagerank_crawl_graph"]}
        ref = _dense_pagerank([(r["src"], r["dst"]) for r in self.edges.collect()], 0.85, 4)
        checks["pagerank_dense_reference"] = ranks.keys() == ref.keys() and all(
            abs(ranks[k] - ref[k]) <= 1e-9 for k in ref
        )
        return checks

    def extra_metrics(self, cycles: list[dict]) -> dict:
        return {}

