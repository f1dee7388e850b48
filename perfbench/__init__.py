"""Benchmark of moospark: served reads and writes over the ClickHouse
HTTP and native wires, and the LLM-data operator pipeline.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the root of a checkout.
"""
