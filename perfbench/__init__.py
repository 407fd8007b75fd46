"""The repository's benchmark: two seeded workloads over schisma_spark, run
by ``python3 perfbench/run.py`` (see ``perfbench/WORKLOADS.md``)."""
