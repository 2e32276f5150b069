"""publicationsretriever_spark — a from-scratch PySpark-native crawl engine.

A distributed URL-frontier + fetch scheduler with the query and
data-processing capabilities of ``LSmyrnaios/PublicationsRetriever``
(reference, read-only at ``/root/reference``), re-expressed Spark-first:

- URL algebra (canonicalization, triple-split, rewrites) as Catalyst
  column expressions + vectorized Arrow UDFs   -> :mod:`.functions.urls`
- the reject-filter regex battery as native ``rlike`` when-chains
  producing a ``reject_reason`` column          -> :mod:`.functions.filters`
- frontier rounds (seen anti-join, re-cross broadcast join,
  best-url-per-id window, host-bucketed politeness fetch)
                                                -> :mod:`.plans.rounds`
- snapshot-versioned table catalog (Iceberg-style semantics on local
  parquet; real Iceberg behind an import-try)   -> :mod:`.sources.catalog`
- training-data ops (dedup families, ANN, text analysis, multimodal
  plumbing)                                     -> :mod:`.operators`

This is NOT a port of the reference's Java threading engine; the
reference defines WHAT is computed (SURVEY.md carries file:line
citations), this package computes it with DataFrames.
"""

__version__ = "0.1.0"

from . import _zipdir

_zipdir.install()
