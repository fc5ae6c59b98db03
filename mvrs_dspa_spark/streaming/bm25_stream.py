"""Streaming BM25 inverted-index maintenance (§2e 29ar; the
continuous form of `operators/retrieval.bm25_search`, #62).

The recurring-crawl shape: documents arrive append-only in
micro-batches, and the retrieval index is MAINTAINED, never rebuilt.
State is exactly the batch plan's intermediates — (a) the
filter-before-explode posting relation (doc_id, dl, tok, tf) for the
query vocabulary, bounded by |docs| x |terms| rows (appended
per-batch: each document contributes its postings once), and (b) the
per-doc length table (doc_id, dl), whose exact integer COUNT and SUM
are the corpus stats (n_docs, sum_dl). `report()` serves through the
SHARED `bm25_from_postings` scoring tail with avgdl = sum_dl / n_docs
— the same double the batch query's AVG(dl) produces while
sum_dl < 2^53 (integer-valued doubles sum exactly, so summation order
cannot move it), hence a replayed corpus
reproduces the registered batch ranking BIT-FOR-BIT (pytest-pinned,
along with replay-order independence and save/load restart).

Append-only contract: a re-delivered or updated doc_id would double-
count (postings append, stats add) — deduplicate upstream (streaming
dedup 29g) or route updates through the CDC path; documented, not
hidden.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mvrs_dspa_spark.functions import text as T
from mvrs_dspa_spark.operators.retrieval import (
    GATE_QUERY_TERMS,
    TOP_N,
    bm25_from_postings,
)
from mvrs_dspa_spark.streaming.monitor import GridMonitor


class Bm25IndexMaintainer(GridMonitor):
    """Accumulates query-vocabulary postings (`state`) + per-doc
    lengths (`doclen`) across micro-batches; `report()` serves the
    batch query's exact ranked table."""

    SCHEMA = "doc_id long, dl int, tok string, tf long"
    KEYS = ("doc_id", "tok")
    EXTRA = ("doclen",)

    def __init__(self, spark, terms: tuple[str, ...] = GATE_QUERY_TERMS) -> None:
        super().__init__(spark)
        self.terms = tuple(terms)
        # per-doc lengths (every doc, postings or not): the stats
        # source AND what makes erasure exact for posting-free docs
        self.doclen: DataFrame = spark.createDataFrame([], "doc_id long, dl int")

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        toks = batch_df.select(
            "doc_id", T.tokens_col(F.lower(F.col("text"))).alias("toks")
        )
        # ONE tokenize pass per micro-batch (r11): the projection feeds
        # both the doclen union and the postings delta, and the eager
        # checkpoint materializes the batch-bounded token arrays once
        dl = toks.select(
            "doc_id", "toks", F.size("toks").alias("dl")
        ).localCheckpoint(eager=True)
        self.doclen = self._checkpoint(
            self.doclen.unionByName(dl.select("doc_id", "dl"))
        )
        term_arr = F.array(*[F.lit(t) for t in self.terms])
        delta = (
            dl.select(
                "doc_id",
                "dl",
                F.explode(
                    F.filter(
                        F.col("toks"),
                        lambda t: F.array_contains(term_arr, t),
                    )
                ).alias("tok"),
            )
            .groupBy("doc_id", "dl", "tok")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        # append-only: each document contributes its postings once
        self._commit(self.state.unionByName(delta))

    @property
    def n_docs(self) -> int:
        return self.doclen.count()

    @property
    def sum_dl(self) -> int:
        return self.doclen.agg(F.coalesce(F.sum("dl"), F.lit(0))).first()[0]

    def report(self, top_n: int = TOP_N) -> DataFrame:
        """Ranked BM25 table through the SAME scoring tail the batch
        query uses, from the maintained index (avgdl is NULL, not a
        division by zero, while the index is empty)."""
        n = F.count(F.lit(1))
        stats = self.doclen.agg(
            n.alias("n_docs"), (F.sum("dl") / n.cast("double")).alias("avgdl")
        )
        return bm25_from_postings(self.state, stats, top_n)

    def erase_docs(self, doc_ids) -> None:
        """GDPR/right-to-be-forgotten for the index: drop the docs'
        postings AND their per-doc length rows, which backs their
        dl/doc contributions out of the stats (exact for EVERY doc,
        including posting-free ones — unlike the counts-only drift
        grids)."""
        ids = [int(d) for d in doc_ids]
        if not ids:
            return
        keep = ~F.col("doc_id").isin(ids)
        self.state = self.state.where(keep).localCheckpoint(eager=True)
        self.doclen = self.doclen.where(keep).localCheckpoint(eager=True)
