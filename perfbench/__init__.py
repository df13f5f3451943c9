"""sparklog benchmark: seeded workloads, end-to-end metrics and a traced per-layer split.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``
from the repository root; ``WORKLOADS.md`` says why each workload exists.
"""
