"""Operator library.

Cache contract (r12, VERDICT r11 #6): several operators ``persist()``
a shared sub-frame that 2+ branches of the RETURNED lazy plan
reference (skinny edge lists, count tables, tokenized streams) —
without the persist, the caller's input lineage re-evaluates once per
consumer. Those frames cannot be unpersisted inside the operator: the
result is lazy, so the cache entry must outlive the call for the
consuming action to hit it. The discipline is therefore:

- Operators that CUT lineage before returning (localCheckpoint — the
  iterative graph ops) unpersist their intermediates themselves; the
  returned plan no longer references them.
- Everything else persists only plan-reachable frames, all through the
  DataFrame API (never bare RDD persists), so ONE standard call —
  ``spark.catalog.clearCache()`` after the consuming action — reclaims
  every entry. The test harnesses do exactly that per query; a
  long-lived session composing operators should too.

``tests/test_cache_discipline.py`` pins both halves: a representative
sweep of persisting operators leaves ZERO persistent RDDs after
action + clearCache, and the iterative ops leave only plan-reachable
frames even before it.
"""

from cqdg_etl_spark.operators.nest import group_nest, nest_parent_as_array
