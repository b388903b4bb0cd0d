"""Repository benchmark for effocr_spark: seeded workloads, output-checked
end-to-end metrics, and a traced run that attributes time to layers.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` (see run.py).
"""
