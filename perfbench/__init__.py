"""Engine benchmark: workloads, exact BM25 checker and layer tracing.

Run with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root (see README.md).
"""
