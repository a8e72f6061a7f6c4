"""Inputs of the benchmark: the transcripts corpus and the seeded query mix.

The corpus is fixed: ``data/documents.parquet`` is a byte-for-byte copy of
the sf0.1 ``documents`` table that ``bench.py`` reads (5,000 documents of
10-100 words over 30 hot terms, 250 of them with the rare term ``dup``).
``lucene_spark.data.synthesize_transcripts`` turns it into 13,574 turns,
16 documents to a conversation, exactly as ``bench.py`` does at
replication 1. The benchmark keeps its own copy so that a run reads
nothing outside its checkout.

Queries are Lucene-syntax strings in three shapes; the seed draws every
term in them and nothing else. The program receives only these strings.
With pruning forced, the term takes ``topk_wand``, the conjunction
``topk_wand_and`` and the sloppy phrase the phrase cogroup kernel: one
shape per top-k strategy. Below the engine's size thresholds ``auto``
gives every shape the exact plan.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents.parquet")
HOT_TERMS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

SHAPES = ("q_term", "q_and", "q_sloppy3")
# answers of these shapes are checked against DuckDB BM25; the phrase
# against the same query run with pruning="off"
ORACLE_SHAPES = ("q_term", "q_and")


def make_turns(spark, n_docs: int | None = None):
    """The transcripts DataFrame (not yet persisted) of the first
    ``n_docs`` documents, or of all of them."""
    from pyspark.sql import functions as F

    from lucene_spark.data import synthesize_transcripts

    docs = spark.read.parquet(DOCUMENTS)
    if n_docs is not None:
        docs = docs.where(F.col("doc_id") < n_docs)
    return synthesize_transcripts(docs)


def make_queries(seed: int) -> dict[str, str]:
    """One query string per shape, all terms drawn from ``seed``."""
    rng = np.random.default_rng([seed, 1])

    def terms(n: int) -> list[str]:
        return [HOT_TERMS[i] for i in rng.choice(len(HOT_TERMS), n, replace=False)]

    return {
        "q_term": f"text:{terms(1)[0]}",
        "q_and": "+{} +{}".format(*terms(2)),
        "q_sloppy3": '"{} {} {}"~2'.format(*terms(3)),
    }


# ------------------------------------------------------------ the oracle


class DuckDBOracle:
    """BM25 top-k over the turns, independent of the engine.

    The SQL is the repository's oracle SQL from ``__spark_entry__``, run
    over the turns registered as ``documents``. Doc ids are the rank of
    (conv_id, turn_idx), which is how the build numbers turns.
    """

    def __init__(self, turns: pd.DataFrame):
        import duckdb

        self.con = duckdb.connect()
        t = turns.sort_values(["conv_id", "turn_idx"], kind="stable")
        self.con.register("documents", pd.DataFrame({
            "doc_id": np.arange(len(t), dtype=np.int64),
            "text": t["text"].to_numpy(),
        }))

    def topk(self, shape: str, query: str, k: int) -> list[tuple[int, float]]:
        import __spark_entry__ as oracle

        assert k <= oracle.TOPK
        if shape == "q_term":
            sql = oracle._sum_topk_sql(f"term = '{query.split(':', 1)[1]}'")
        elif shape == "q_and":
            terms = [w[1:] for w in query.split()]
            sql = oracle._sum_topk_sql(
                "term IN ({})".format(", ".join(f"'{t}'" for t in terms)), required=terms
            )
        else:
            raise ValueError(f"no DuckDB oracle for {shape}")
        return [(int(d), float(s)) for d, s in self.con.execute(sql).fetchall()[:k]]


def same_answer(got: list[tuple[int, float]], want: list[tuple[int, float]],
                tol: float = 1e-6) -> bool:
    """Same doc ids in the same score-desc / doc_id-asc order, and scores
    within ``tol``. Ties are ordered by doc id after rounding scores to
    ``tol``, so a last-bit difference in a summed score cannot reorder them."""
    if len(got) != len(want):
        return False
    ordered = sorted(got, key=lambda r: (-round(r[1], 6), r[0]))
    if [d for d, _ in ordered] != [d for d, _ in got]:
        return False
    return all(
        dg == dw and abs(sg - sw) <= tol for (dg, sg), (dw, sw) in zip(got, want)
    )
