"""Repository benchmark: seeded workloads driving bdq_spark from outside."""
