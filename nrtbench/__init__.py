"""Benchmark for the NRT pipeline, the silver read path and the era-40
queries. Run ``python3 nrtbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root; see METRICS.md."""
