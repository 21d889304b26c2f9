"""Repository benchmark: seeded workloads driven through the public
pipeline, snapshot and SPARQL APIs at ``local[4]``. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``; see ``perfbench/README.md``."""
