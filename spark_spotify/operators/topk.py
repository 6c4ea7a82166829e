"""Per-key top-k: the one operator behind every "best k rows per group".

Every vector gate and its DuckDB oracle rank in one fixed order — the
6dp-rounded score descending, then the id ascending — and every
per-key selection here (a query's k nearest vectors, a document's top
tokens, a vector's nearest PQ centroid, a day's top event type) is the
same shape: number each group's rows in that order and keep the first
k.  ``top_k`` is that shape, written once.

Plan: ``row_number()`` over ``partitionBy(by).orderBy(order)`` filtered
on ``rank <= k`` is what Catalyst's ``InferWindowGroupLimit`` recognises,
so Spark plans a *partial* ``WindowGroupLimit`` below the shuffle: each
map partition keeps at most k rows per key before the ``Exchange``, and
the final window ranks only those survivors.  That is the two-phase
top-k (the hand-salted first window it replaced did the same by hand).
An empty ``by`` is the global top-k over one partition.

Shape rule — which idiom a site uses:

- ``top_k`` when the result is ROWS: k rows per key, or the one best
  row whose other columns (score, distance, label) the caller keeps.
- ``max_by``/``min_by`` or a struct max inside ``groupBy().agg()`` when
  the result is ONE VALUE per key inside an aggregate (the IVF cell
  assignment ``assign_cells``, the PQ encoder ``assign_pq_codes``,
  ``neardup``'s two-level assignment): a map-side-combinable aggregate
  whose shuffle carries one slim row per key and partition.
- a global ``.orderBy(...).limit(k)`` when there is no key
  (``cosine_topk``, ``topk_from_cells``): Spark plans it as one
  ``TakeOrderedAndProject`` with no window at all.
- ``row_number()`` alone, never filtered, when a site NUMBERS rows
  (versions, positions, vocabulary ids) instead of selecting them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(
    df: DataFrame, by: Sequence[str], order: Sequence[Column], k: int
) -> DataFrame:
    """The first ``k`` rows of each ``by`` group in ``order``, with an
    int ``rank`` column numbering them 1..n (n = min(k, group size)).
    ``order`` must end in a unique tiebreak so the kept rows are
    deterministic."""
    w = Window.partitionBy(*by).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
