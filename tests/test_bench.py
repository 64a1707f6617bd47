"""bench.py: the stream rep pin."""


def test_bench_stream_reps_pinned_at_two():
    """SPARK_GRAFT_BENCH_REPS=1 must NOT revert streams to single-rep
    timing (driver-ADVICE r8). The rep-count expression is pinned: no
    `min(2, reps)` reintroduction."""
    import re

    src = open("bench.py").read()
    m = re.search(r"n_reps = (.+?) if name\.startswith\(\"stream_\"\)", src)
    assert m, "bench.py stream rep-count expression not found"
    assert m.group(1).strip() == "2", m.group(1)
