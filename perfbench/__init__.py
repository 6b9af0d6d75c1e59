"""Link-graph benchmark for graph_partitioning_spark; entry point: run.py."""
