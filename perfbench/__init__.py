"""End-to-end and per-layer benchmark for the dbt-omnata-push Spark engine.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root. See ``run.py`` for the output
contract and ``workloads.py`` for what each workload measures.
"""
