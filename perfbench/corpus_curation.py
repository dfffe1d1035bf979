"""corpus_curation: LLM pre-training corpus curation over document shards.

Seed-generated shards of the sf0.1 ``documents`` table (the seed picks
the documents and sets the injected exact- and near-duplicate rates)
are curated one per op by calling the public operators in the
order ``catalog/pipelines.py:pipeline_curate_corpus`` uses them:
``text.quality_score`` → ``dedup.exact_canonical`` →
``dedup.minhash_near_duplicates`` → ``dedup.resolve_clusters`` →
``dedup.contamination_flags`` → ``text.repetition_metrics``. Each op's
surviving documents must hash-match the catalog's DuckDB oracle
(``_CURATE_SQL``) run on the same shard.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import datagen
from harness import DATA, action, cache_hygiene, frame_hash, warm

N_SHARDS = 2
SAMPLE = 500  # corpus documents drawn per shard, before injected copies
BENCH = 30  # held-out src0 documents per shard (contamination reference)


class Curate:
    def __init__(self, wl: "CorpusCuration", shard: int) -> None:
        self.wl = wl
        self.shard = shard
        self.name = f"shard_{shard}"

    def run(self):
        return self.wl.curate(self.shard)

    def check(self, out) -> str | None:
        got = frame_hash(out["pdf"])
        want = self.wl.expected[self.shard]
        if got != want:
            return f"curated {got[0]} docs/{got[2][:8]} != oracle {want[0]} docs/{want[2][:8]}"
        return None

    def rows(self, out) -> int:
        return self.wl.shard_docs[self.shard]

    def probe(self, out) -> None:
        """LSH candidate vs verified pair counts, after the timed op
        (traced rounds only)."""
        from azuredataengineering_deeplearning_spark.operators import dedup as DD

        sigs = DD.minhash_signatures(out["sub"], "doc_id", "text")
        tracer = self.wl.tracer
        tracer.count("dedup.candidate_pairs", DD.lsh_candidate_pairs(sigs, "doc_id").count())
        tracer.count("dedup.verified_pairs", out["pairs"].count())


class CorpusCuration:
    name = "corpus_curation"
    MIN_ROUNDS = 1  # each round curates every shard once

    def __init__(self, tracer, work_dir: str, seed: int) -> None:
        self.spark = None
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.failures: list[str] = []

    def generate(self) -> None:
        """Write the seed's document shards."""
        shards = datagen.corpus_shards(
            pd.read_parquet(os.path.join(DATA, "documents.parquet")),
            os.path.join(self.work_dir, "corpus"),
            self.seed,
            N_SHARDS,
            SAMPLE,
            BENCH,
        )
        self.paths = [p for p, _ in shards]
        self.shard_docs = [n for _, n in shards]
        self.inputs = {f"shard_{i}": os.path.getsize(p) for i, p in enumerate(self.paths)}

    def setup(self, spark, rep: int) -> None:
        """Open every shard through the engine's reader (schema and
        footers)."""
        from azuredataengineering_deeplearning_spark.sources.readers import read_parquet

        self.spark = spark
        for p in self.paths:
            read_parquet(spark, p)

    def oracles(self) -> None:
        """Oracle every shard with the catalog's curation SQL on DuckDB
        (no engine session needed, so it overlaps the JVM launch)."""
        from azuredataengineering_deeplearning_spark.catalog.pipelines import _CURATE_SQL

        self.expected = []
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"SET temp_directory = '{self.work_dir}/tmp'")
        for p in self.paths:
            con.execute(
                f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{p}')"
            )
            self.expected.append(frame_hash(con.execute(_CURATE_SQL).df()))
        con.close()

    def prepare(self) -> None:
        """Warm the pipeline once and check it (untimed). The shards
        share one plan shape, so one warm-up covers them all."""
        op = Curate(self, 0)
        err = warm(op) or self.hygiene()
        if err:
            self.failures.append(f"warm-up {op.name}: {err}")

    def rounds(self):
        rng = np.random.default_rng(self.seed)
        while True:
            yield [Curate(self, int(s)) for s in rng.permutation(N_SHARDS)]

    def curate(self, shard: int):
        from azuredataengineering_deeplearning_spark.operators import dedup as DD
        from azuredataengineering_deeplearning_spark.operators import relational as R
        from azuredataengineering_deeplearning_spark.operators import text as T
        from azuredataengineering_deeplearning_spark.sources.readers import read_parquet

        span = self.tracer.span
        with span("readers.load"):
            d = read_parquet(self.spark, self.paths[shard])
            corpus = R.widen_narrow_input(d.filter(F.col("source") != "src0"))
            bench = d.filter(F.col("source") == "src0")
        with span("text.quality"):
            qual = corpus.withColumn("quality", T.quality_score("text")).filter(
                F.col("quality") >= 0.3
            )
        with span("dedup.exact"):
            sub = (
                DD.exact_canonical(qual, "doc_id", "text")
                .filter(F.col("doc_id") == F.col("canonical_id"))
                .drop("canonical_id")
                .persist()
            )
        with DD.cache_scope():
            with span("dedup.minhash"):
                pairs = DD.minhash_near_duplicates(sub, "doc_id", "text", threshold=0.8)
            with span("dedup.cluster"):
                losers = (
                    DD.resolve_clusters(pairs)
                    .filter(F.col("node") != F.col("cluster_id"))
                    .select(F.col("node").alias("doc_id"))
                )
        with span("dedup.contamination"):
            contaminated = DD.contamination_flags(sub, bench, "doc_id", "text", n=5)
        with span("text.repetition"):
            rep = T.repetition_metrics(sub, "doc_id", "text", n=2)
        out = (
            sub.join(losers.unionByName(contaminated.select("doc_id")), "doc_id", "left_anti")
            .join(rep, "doc_id")
            .filter(F.col("dup_ngram_frac") < 0.12)
            .select("doc_id", "lang", "quality")
        )
        return {"pdf": action(self.tracer, out.toPandas), "sub": sub, "pairs": pairs}

    def layer_extras(self) -> dict[str, float]:
        c = self.tracer.counts
        cand = c.get("dedup.candidate_pairs", 0.0)
        return {"dedup.pair_yield": c.get("dedup.verified_pairs", 0.0) / cand if cand else 0.0}

    def hygiene(self) -> str | None:
        return cache_hygiene(self.spark)
