"""Link-graph benchmark for credigraph_spark (see README.md)."""
