"""The corpus side: gated micro-batch ingest and the iterative operators.

Ingest drives seeded micro-batches of the generated documents through
``streaming.ingest.make_dedup_ingest_batch_fn`` into one base, so every batch
after the first probes the index the earlier batches wrote. The operators are
``plans.queries.QUERIES[name]`` over the generated tables; each result is
small and is collected.

Checks, outside the timed region: kept docs hold no exact duplicates and no
near-duplicate pair, band index rows belong only to kept docs, and every
operator result hash-equals its DuckDB oracle (``ORACLES[name]``) over the
same parquet files.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import random
import re
import shutil
import time

import duckdb

from healthcare_rcm_etl_pipeline_spark.plans.queries import ORACLES, QUERIES
from healthcare_rcm_etl_pipeline_spark.sources.readers import load_table
from healthcare_rcm_etl_pipeline_spark.streaming import ingest
from rcmbench.gen import write_corpus
from rcmbench.hospital import same_result

OPERATOR_QUERIES = [
    "kmeans_lloyd",
    "q49_copurchase_pagerank",
    "decontaminate_blast_radius",
    "corpus_bpe_train",
    "dedup_minhash_lsh",
]


def materialized(sql: str) -> str:
    """An oracle with every CTE materialized. DuckDB inlines a CTE at each
    reference, and the unrolled iterative oracles reference every stage
    twice, so their cost doubles per stage; the results are the same."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


class Corpus:
    def __init__(self, spark, work: str, seed: int, sf: float, n_batches: int):
        self.spark, self.seed, self.sf, self.n_batches = spark, seed, sf, n_batches
        self.sf_dir = os.path.join(work, "corpus")
        self.base = os.path.join(work, "ingest_base")
        self.rng = random.Random(seed)
        order = list(range(n_batches))
        self.rng.shuffle(order)
        self.batch_order = order  # seeded assignment of doc_id % n_batches
        self.op_results: dict[str, tuple[list, list]] = {}

    def prepare(self) -> None:
        """The corpus tables and an empty ingest base."""
        for d in (self.sf_dir, self.base):
            shutil.rmtree(d, ignore_errors=True)
        self.input_bytes = write_corpus(self.sf_dir, self.seed, self.sf)
        self.next_batch = 0
        self.ingest_fn = ingest.make_dedup_ingest_batch_fn(self.base)

    # ---- ingest --------------------------------------------------------------
    def ingest_batch(self) -> float:
        """One micro-batch (the next seeded doc_id residue class)."""
        b = self.batch_order[self.next_batch % self.n_batches]
        docs = load_table(self.spark, self.sf_dir, "documents").select("doc_id", "text")
        batch = docs.filter(docs.doc_id % self.n_batches == b)
        t0 = time.perf_counter()
        self.ingest_fn(batch, self.next_batch)
        took = time.perf_counter() - t0
        self.next_batch += 1
        return took

    def batch_input_bytes(self) -> float:
        """The last batch's share of ``documents.parquet``, in proportion to
        its text length: the input bytes that batch consumed."""
        b = self.batch_order[(self.next_batch - 1) % self.n_batches]
        path = os.path.join(self.sf_dir, "documents.parquet")
        con = duckdb.connect()
        share = con.execute(
            f"SELECT sum(n_chars) FILTER (WHERE doc_id % {self.n_batches} = {b}) / sum(n_chars) "
            f"FROM read_parquet('{path}')").fetchone()[0]
        con.close()
        return os.path.getsize(path) * share

    def ingested_docs(self) -> int:
        """Documents offered to the ingest so far."""
        con = duckdb.connect()
        seen = [self.batch_order[i % self.n_batches] for i in range(self.next_batch)]
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{self.sf_dir}/documents.parquet') "
            f"WHERE doc_id % {self.n_batches} IN ({','.join(map(str, seen or [-1]))})"
        ).fetchone()[0]
        con.close()
        return n

    def index_rows(self) -> int:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows
                   for f in glob.glob(f"{self.base}/bands/*/*.parquet"))

    def check_ingest(self) -> tuple[list[str], str]:
        """Failed checks and the hash of the kept doc ids."""
        con = duckdb.connect()
        docs = f"read_parquet('{self.base}/docs/*/*.parquet')"
        bands = f"read_parquet('{self.base}/bands/*/*.parquet')"
        fails = []
        dup = con.execute(
            f"SELECT count(*) - count(DISTINCT lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) "
            f"FROM {docs}").fetchone()[0]
        if dup:
            fails.append(f"{dup} exact duplicates kept")
        stray = con.execute(
            f"SELECT count(*) FROM {bands} WHERE doc NOT IN (SELECT doc_id FROM {docs})"
        ).fetchone()[0]
        if stray:
            fails.append(f"{stray} index rows of dropped docs")
        # the planted near duplicates (Jaccard >= 0.8) sit far above the
        # gate's 0.5 verify threshold: no kept pair may reach it
        con.execute(f"CREATE VIEW documents AS SELECT * FROM {docs}")
        near = con.execute(f"SELECT count(*) FROM ({ORACLES['dedup_minhash_lsh']})").fetchone()[0]
        if near:
            fails.append(f"{near} near-duplicate pairs kept")
        ids = [r[0] for r in con.execute(f"SELECT doc_id FROM {docs} ORDER BY 1").fetchall()]
        offered = self.ingested_docs()
        if not 0 < len(ids) <= offered:
            fails.append(f"kept {len(ids)} of {offered} offered docs")
        con.close()
        return fails, hashlib.sha1(",".join(map(str, ids)).encode()).hexdigest()[:16]

    # ---- operators -----------------------------------------------------------
    def operators(self, span=None, on_query=None) -> list[tuple[str, float]]:
        """One pass over the operator queries in a seeded order; returns
        (name, seconds) per query. ``span`` marks the build (the query
        function: plan construction plus its eager jobs) and the execute
        (the collect) of each query."""
        span = span or (lambda name, layer: contextlib.nullcontext())
        names = list(OPERATOR_QUERIES)
        self.rng.shuffle(names)
        ops = []
        for name in names:
            t0 = time.perf_counter()
            with span(f"plans.queries.build.{name}", "plans.queries"):
                df = QUERIES[name](self.spark, self.sf_dir)
            with span(f"plans.queries.execute.{name}", "spark.execute"):
                rows = df.collect()
            ops.append((name, time.perf_counter() - t0))
            if on_query is not None:
                on_query(df)
            self.op_results[name] = (df.columns, [tuple(r) for r in rows])
        return ops

    def check_operators(self) -> list[str]:
        con = duckdb.connect()
        for t in ("documents", "embeddings", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        fails = []
        for name, (cols, rows) in self.op_results.items():
            res = con.execute(materialized(ORACLES[name]))
            if not same_result(cols, rows, [d[0] for d in res.description], res.fetchall()):
                fails.append(f"{name} differs from its oracle")
        con.close()
        return fails
