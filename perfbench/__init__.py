"""Seeded end-to-end benchmark for transmogrifai_spark (model, curate).

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``run.py``.
"""
