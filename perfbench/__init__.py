"""levi-spark benchmark: seeded workloads driven through the public API.

Run one workload per process from the repository root::

    python3 perfbench/run.py --workload maint_cycle --seed 1 --seconds 5 --trace 0

Workloads (one closed-loop client each, ``local[nproc]``):

* ``maint_cycle`` — the Delta workload: duplicate injection, the three
  dedup operators, an SCD2 upsert, ``pruned_scan`` range reads and
  compaction, with metadata questions (``levi_spark.api``) asked in user
  sessions between the writes;
* ``llm_dedup_search`` — registry dedup passes plus exact and LSH
  similarity search; no Delta log, the bypass workload for Delta-layer
  changes.

Every input is generated from ``--seed`` (``perfbench.inputs``); every
output is checked outside the timed region (``perfbench.replay`` and the
workload modules). ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics from spans recorded around the
calls into each module (``perfbench.tracing``).
"""
