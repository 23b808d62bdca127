"""Plan-time helpers: ``hints`` holds the plan-sized parallelism count
that operators read from Catalyst's plan-time size estimate. Join
strategy is left to Spark's planner and AQE."""
