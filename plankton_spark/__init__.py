"""plankton_spark — a PySpark-native analytics engine.

A brand-new engine with the pipeline capabilities of the reference
(`johnshiver/plankton`, a Go ETL-orchestration framework; see
SURVEY.md §0 — the snapshot at /root/reference is empty, so claims
about it are public-knowledge, not file citations) re-expressed
Spark-first, PLUS the full relational / streaming / LLM-data-pipeline
operator surface declared in SURVEY.md §2.

Layout:
- ``session``   — SparkSession factory (AQE on, UTC, tuned shuffle).
- ``io``        — fixture readers with fixed schemas (SURVEY.md §1.2).
- ``registry``  — query/oracle registration (driver contract).
- ``functions`` — determinism helpers (decimal sums, dot products).
- ``queries``   — the declared operator surface, one module per §2.x.
- ``streaming`` — Structured Streaming jobs mirrored by batch shadows.
- ``framework`` — plankton-parity Pipeline/Operator/ledger (§2.12).
"""

import os

__version__ = "0.1.0"

# Root of the engine's scratch tables, sinks, checkpoints and SQL
# warehouse: ``.scratch`` (git-ignored) next to this package.
SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
