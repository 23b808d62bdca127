"""Plan-level hints: ``hints`` holds the size-gated broadcast hint and the
plan-sized parallelism count that operators read from Catalyst's
plan-time size estimate."""
