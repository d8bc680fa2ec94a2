"""The repository benchmark: two closed-loop workloads over the engine's
public functions, end-to-end metrics, and a traced run that attributes
Spark task metrics to spans around every call into a layer.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root."""
