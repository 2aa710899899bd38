"""Catalog entries for the Spark 4 Python Data Source API sources
(``sources/pysource.py``): the synthetic-corpus batch source read
through ``spark.read.format("corpussynth")`` and aggregated — proving
the full custom-connector path (register → partition-parallel read →
Catalyst agg) inside the oracle-checked catalog.

The source generates rows instead of reading files, yet still carries
a FULL DuckDB oracle: every random choice is an md5-prefix hash, so
SQL regenerates the identical corpus (``synth_corpus_oracle_sql``) —
the determinism contract that makes a generator source testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pysource import (
    register_python_sources,
    synth_corpus_oracle_sql,
)
from .queries import query

_N_DOCS = 500
_SEED = 42


def _profile_sql() -> str:
    return f"""
    WITH corpus AS ({synth_corpus_oracle_sql(_SEED, _N_DOCS)})
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           md5(string_agg(text, '\x1f' ORDER BY doc_id)) AS content_md5
    FROM corpus
    GROUP BY lang, source
    ORDER BY lang, source
    """


@query("synth_corpus_lang_profile", _profile_sql())
def synth_corpus_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) profile of the Python-data-source corpus:
    doc counts, char totals, and an order-pinned md5 over the full
    generated TEXT per group — so the oracle hash-checks every byte
    the custom source emitted, not just aggregates.

    Scale: the source is partition-parallel (each InputPartition
    generates its own id range; zero driver data) and supports doc_id
    range pushdown (generator-side partition pruning); the profile is
    one hash-agg. ``sf_dir`` is unused — the corpus is generated, the
    point of the source."""
    register_python_sources(spark)
    corpus = (
        spark.read.format("corpussynth")
        .option("n_docs", _N_DOCS)
        .option("seed", _SEED)
        .option("n_parts", 8)
        .load()
    )
    return (
        corpus.groupBy("lang", "source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "text"))
                    ).getField("text"),
                )
            ).alias("content_md5"),
        )
        .orderBy("lang", "source")
    )
