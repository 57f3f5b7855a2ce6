"""Benchmark of the rio_color_spark flagship pipeline.

``python3 colorbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``
prints one JSON result line. The program under test is only imported and
called; everything here measures it from outside.
"""
