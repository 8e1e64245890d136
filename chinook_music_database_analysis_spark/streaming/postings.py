"""Incremental BM25 postings maintenance: a streaming-updated inverted
index answering lexical retrieval without re-tokenizing the corpus.

The batch side (operators/text.bm25_corpus_relations served from the
plans/extensions index store) builds the postings once per corpus
version; this module is its STREAMING half — the shape a production
retrieval deployment uses when documents arrive continuously: every
micro-batch tokenizes ONLY its own documents into (doc_id, term, tf)
postings and (doc_id, dl) length deltas appended to a parquet log, and
the serving read unions the log.  The corpus is never re-scanned.

Exactly-once economics mirror streaming/sketches.py:

1. **File idempotence** — each batch lands under its own
   ``batch_id=N`` overwrite directory (streaming/sinks.write_batch),
   so a replayed batch converges to the same files.
2. **Disjointness** — an append-only document stream contributes each
   doc_id in exactly one batch, so the union of batch deltas IS the
   full postings relation: no cross-batch re-aggregation, no
   double-count risk beyond the replay case (1) already covers.

At 100 TB: log growth is corpus-token-rate; ``compact_postings_log``
folds the append log into a term-clustered store on the maintenance
cadence — the same physical layout the batch index store writes, so
row-group term pruning keeps working on the compacted form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.text import tokens_expr
from ..sources.session import table_schema
from .sinks import start_batch_sink, write_batch


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the documents table (file source standing in for the
    ingest bus; the glob makes the single-file path resolve against
    the sf directory base, the read_events_stream recipe)."""
    schema = table_schema(spark, sf_dir, "documents")
    return spark.readStream.schema(schema).parquet(f"{sf_dir}/documents*.parquet")


def batch_postings_delta(docs: DataFrame) -> DataFrame:
    """One micro-batch's postings + length delta:
    (doc_id, term, tf, dl).  Tokenize + explode + hash-agg over ONLY
    the batch's documents; dl rides along per (doc, term) row group so
    the log needs a single relation (dl is repeated per term of a doc
    — the read side takes max, which equals the unique value).

    ``explode_outer``, not ``explode`` (r12 review): a null-text doc
    tokenizes to a null array, and plain explode would drop its row
    from the LOG entirely — no dl row — while the batch side
    (text.bm25_corpus_relations) keeps a (doc_id, NULL dl) length row
    for it.  Served N and avgdl would silently diverge between the two
    index forms on any corpus with null texts.  The null-term marker
    row explode_outer emits is excluded from the postings relation at
    read time."""
    toks = docs.select("doc_id", tokens_expr().alias("toks"))
    return (
        toks.select(
            "doc_id", F.size("toks").alias("dl"), F.explode_outer("toks").alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )


def start_postings_log_sink(
    stream: DataFrame, path: str, checkpoint_dir: str
) -> StreamingQuery:
    """Maintain the postings log from a document stream: each
    micro-batch writes its own delta under ``batch_id=N``
    (idempotent overwrite; replay converges)."""
    return start_batch_sink(
        stream,
        lambda df, batch_id: write_batch(batch_postings_delta(df), batch_id, path),
        checkpoint_dir,
    )


def read_postings(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) from the log — the same relation pair
    operators/text.bm25_corpus_relations derives in batch, so
    bm25_topk / bm25_batch_topk consume either interchangeably
    (pinned identical in tests/test_streaming).  Union of the batch
    directories; no re-aggregation (batch deltas are doc-disjoint)."""
    log = spark.read.parquet(path)
    # term IS NULL rows are the null-text markers explode_outer keeps
    # so the doc still gets its doclens row — they are not postings
    # (the batch relation has no row for them either).
    postings = log.filter(F.col("term").isNotNull()).select("doc_id", "term", "tf")
    doclens = log.groupBy("doc_id").agg(F.max("dl").alias("dl"))
    return postings, doclens


def compact_postings_log(spark: SparkSession, path: str, out_path: str) -> None:
    """Fold the append log into a term-clustered store (the batch
    index store's physical layout, so the query bag's IN-filter prunes
    row groups on the compacted form too).  Run on the maintenance
    cadence; caps file count at the compaction rate regardless of
    micro-batch cadence."""
    (
        spark.read.parquet(path)
        .select("doc_id", "term", "tf", "dl")
        .repartition("term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(out_path)
    )
