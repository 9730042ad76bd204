"""The demo catalog — every operator from SURVEY §2 registered as a
gradable (query, oracle) pair.

This module is the aggregation point: importing it registers every entry
in the topic modules (side-effect registration through the @query
decorator in plans.registry) and re-exports the registry surface the
driver contract (__spark_entry__) reads. Q and ORACLE keep plain module
registration order. The synthetic-input SQL builders shared across
modules live in plans.synth.

Two rules still constrain what registers here:

- Sketch entries whose hash families are not SQL-expressible
  (minhash_lsh_pairs, simhash_pairs) register with graded=False and land
  in UNGRADED: runnable (bench.py times them) but never graded. Their
  recall is oracle-proven by minhash_exact_verified /
  simhash_exact_verified.
- A retired entry's kernel stays graded inside a sibling entry. Each
  retirement comment at the former registration site names the sibling
  that grades the same kernel, and an entry is retired only when such a
  sibling exists.
"""

from __future__ import annotations

from idb_backend_spark.plans.registry import (  # noqa: F401
    ORACLE,
    Q,
    UNGRADED,
    _t,
    query,
)

from idb_backend_spark.plans import (  # noqa: F401  (side-effect registration)
    q_download,
    q_parity,
    q_enrichment,
    q_relational,
    q_scale,
    q_shim,
    q_store,
    q_streaming,
    q_textsim,
    q_corpusops,
)
