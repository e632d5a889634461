"""Persisted inverted TEXT index: build once, probe many times.

``plans/search.py`` (phrase_search, text_search_rank, bm25_search) rebuilds
the posting table inside every query — right for the oracle contract, wrong
for a serving path. This module is the production split, the text twin of
``operators/ann_index.py``:

- ``postings/`` — one row per (doc_id, tok, tf), written
  ``partitionBy("tok_pfx")`` (first character) and sorted by ``tok`` within
  files: a probe for a handful of terms statically prunes to the matching
  prefix directories, and the term equality predicate skips row groups.
- ``lexicon/``  — (tok, df) with the same prefix partitioning: per-term
  document frequencies precomputed at build, read partition-pruned.
- ``docs/``     — (doc_id, dl) document lengths for BM25 normalization.
- ``stats/``    — one row: (n_docs, l_total).

``query_text_index`` reproduces ``bm25_search``'s exact integer scoring from
the index alone — pinned equal by test — with the corpus-side explode and
aggregation paid ONCE at build time. At 100 TB the postings table is the
persisted artifact refreshed per corpus snapshot; probes are prefix-pruned
reads plus a broadcast of the (few) probed terms.

Reference parity note: the reference's word-cloud token statistics
(`README.md:61-64`) are recomputed by ClickHouse per dashboard refresh; this
is the indexed version of that workload.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import persist


def build_text_index(documents: DataFrame, path: str) -> None:
    """Materialize the inverted index for a (doc_id, text) DataFrame."""
    tok = documents.where(F.col("text") != "").select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    tf = persist(tf)
    pfx = F.substring("tok", 1, 1).alias("tok_pfx")
    (
        tf.select("doc_id", "tok", "tf", pfx)
        .repartition("tok_pfx")
        .sortWithinPartitions("tok")
        .write.mode("overwrite")
        .partitionBy("tok_pfx")
        .parquet(os.path.join(path, "postings"))
    )
    (
        tf.groupBy("tok")
        .agg(F.count("*").alias("df"), F.sum("tf").cast("long").alias("total"))
        .select("tok", "df", "total", pfx)
        .repartition("tok_pfx")
        .sortWithinPartitions("tok")
        .write.mode("overwrite")
        .partitionBy("tok_pfx")
        .parquet(os.path.join(path, "lexicon"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    dl.write.mode("overwrite").parquet(os.path.join(path, "docs"))
    dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").cast("long").alias("l_total")
    ).write.mode("overwrite").parquet(os.path.join(path, "stats"))
    tf.unpersist()


def query_text_index(
    spark: SparkSession, path: str, terms: list[str], top: int = 20
) -> DataFrame:
    """BM25 probe from the persisted index — the exact integer scoring of
    ``plans/search.py::bm25_search`` (k1=1.2, b=0.75, rational idf), served
    from prefix-pruned posting reads instead of a corpus explode. ``terms``
    is the bounded probe set; its first characters become STATIC partition
    filters, so pruning happens at plan time."""
    prefixes = sorted({t[:1] for t in terms if t})
    postings = (
        spark.read.parquet(os.path.join(path, "postings"))
        .where(F.col("tok_pfx").isin(prefixes) & F.col("tok").isin(terms))
        .select("doc_id", "tok", "tf")
    )
    lexicon = (
        spark.read.parquet(os.path.join(path, "lexicon"))
        .where(F.col("tok_pfx").isin(prefixes) & F.col("tok").isin(terms))
        .select("tok", "df")
    )
    docs = spark.read.parquet(os.path.join(path, "docs"))
    stats = spark.read.parquet(os.path.join(path, "stats"))
    return (
        postings.join(F.broadcast(lexicon), "tok")
        .join(docs, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            F.expr(
                "((n_docs - df) * 1000 DIV df) * ((22000 * tf * l_total)"
                " DIV (10 * tf * l_total + 3 * l_total + 9 * dl * n_docs))"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("s").cast("long").alias("score_units"),
            F.count("*").cast("long").alias("terms_hit"),
        )
        .orderBy(F.desc("score_units"), F.asc("doc_id"))
        .limit(top)
    )
