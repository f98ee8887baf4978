"""apollo-spark benchmark: see README.md in this directory."""

import os

# The checkout root: the directory holding ``perfbench/``, ``apollo_spark/``
# and ``__spark_entry__.py``.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Everything a run writes (input caches, checkpoints, Spark scratch, event
# logs, traces) lives here, inside the checkout.
WORK = os.path.join(ROOT, ".bench_work")
