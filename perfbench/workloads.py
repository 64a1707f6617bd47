"""The benchmark's workloads: which engine entry points one pass runs, on
which generated input, and where each result goes.

A step name (here and in count_vs_full.py) is a registry query
(``queries.registry.REGISTRY``), except ``PRETRAIN`` — the
``pipelines.pretrain_data.run_pretrain_pipeline`` funnel, whose shard plan
is its output — and ``user_value_interpolate``, which runs its hourly
``SCALED_SWEEP_VARIANTS`` twin (the 10-minute spine's DuckDB oracle alone
outlasts a run).

Every input is the reference tables at sf 0.01, shuffled and re-keyed by
the seed (``gen.py``). One run (two engine start-ups for ``setup_s``, a cold
pass, the warm passes and a verification pass) has to fit the per-run time
budget that ``BENCHMARK.json`` implies, which is what bounds the step lists
and the number of warm passes. That is why ``user_value_interpolate`` and
``PRETRAIN`` are timed only by count_vs_full.py: on this input the first
costs 3.5-5 s per warm pass plus about 4 s to verify, the second 9-15 s per
warm pass, and with either one a run can hold only one warm pass, so no
median can drop a pass the host slowed down.
"""

from __future__ import annotations

from dataclasses import dataclass

PRETRAIN = "pretrain_pipeline"


@dataclass(frozen=True)
class Workload:
    name: str
    steps: tuple[str, ...]
    #: Steps whose result is written as a Parquet datamart through
    #: `core.io.write_overwrite`; every other step's full result goes to
    #: `df.write.format("noop")`, which computes it and stores nothing.
    datamarts: tuple[str, ...]
    #: Warm passes every run makes, whatever `--seconds` says: a fixed floor
    #: keeps the number of passes, and so what `warm_pass_cpu_s` is the median
    #: of, the same from run to run.
    min_warm_passes: int


#: The reference's weekly DAG's two heaviest datamarts: geotag (nearest
#: city) and the zone report.
GEO_DAG = ("nearest_city", "zone_report")

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="analytics_mix",
            steps=(
                "pagerank_det",
                "stream_windowed_counts",
                *GEO_DAG,
            ),
            datamarts=GEO_DAG,
            min_warm_passes=3,
        ),
        Workload(
            name="llm_curation",
            steps=(
                "dedup_exact",
                "dedup_minhash_lsh",
                "decontaminate_ngram_overlap",
                "ann_brute_force",
            ),
            datamarts=(),
            min_warm_passes=3,
        ),
    )
}
