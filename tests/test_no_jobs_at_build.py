"""Guard for the untimed-construction hole (VERDICT r10 "What's wrong" #2).

Query CONSTRUCTION should only declare a plan. perfbench's `dws_serving`
workload times the build separately from the action (`plans.build_ms_p50`),
so a Spark job launched during construction is work charged to the build
rather than to the query it serves — the r10 round found kmeans_ivf_train
running its whole training that way (fixed in r11: lazy persist, training
now runs inside the action).

This test reads the build of EVERY declared query (the session's one build
pass, `registry_builds` in conftest) and asserts no Spark job ran,
except for a small documented allowlist. The allowlist is checked exactly
(no new offender can slip in, and an entry that stops running jobs must be
removed, as must an entry that names no registered query):

- convergence loops: their loop control (`isEmpty` per round) IS a driver
  action by nature — the iteration count is data-dependent and cannot be
  deferred into the action without changing the declared algorithm. Their
  action runs only the final pass; documented in OPTIMIZATION_r11.md.
- plan_range_partitions: range boundaries are a two-pass algorithm by
  declaration (sample quantiles, then assign); the ≤15-row boundary fetch
  is the first pass. It runs pre-persist (r10 audit), so it cannot
  pre-fill anything the timed run would reuse.
- similarity_topk_ivf* / kmeans_ivf_train share `_ivf_k`, whose count on
  an unpersisted scan sizes the codebook. Same class: a tiny sizing probe
  that fills no cache.

Jobs are counted per query at its first build in the session: each build
runs under its own job group, the listener bus is drained, and the group's
job ids are read back. The global `AppStatusStore` job list would be capped
by `spark.ui.retainedJobs` and could lag the asynchronous listener bus.
"""

from __future__ import annotations

# Queries whose CONSTRUCTION may run Spark jobs, with the reason class.
BUILD_JOB_ALLOWLIST = {
    # min-label propagation until no label improves (isEmpty per round);
    # dedup_survivorship / dedup_token_yield consume the same loop
    "dedup_clusters",
    "dedup_cluster_quality",
    "dedup_survivorship",
    "dedup_token_yield",
    # alternating large/small-star contraction until the edge fixpoint
    "dedup_clusters_star",
    # two-pass range partitioning: quantile boundary fetch is pass one
    "plan_range_partitions",
    # `_ivf_k` sizing count on an unpersisted scan (kmeans_ivf_train and
    # similarity_topk_pq_adc are NOT listed: r11 moved their training
    # inside the timed action and the guard verified zero build jobs)
    "similarity_topk_ivf",
    "similarity_topk_ivf_adc_rerank",
    "similarity_topk_ivf_multiprobe",
    "ivf_recall_audit",
    "semdedup_eps_sweep",
    "dedup_embedding_cosine",
    "bitext_margin_mining",
    # writes its bucketed layout at build — the one-time ETL step that IS
    # the operator's declared subject (the read-side join is what is timed)
    "bucketed_join_colocation",
}

# Structured-streaming twins execute their micro-batches at construction
# by DECLARED design (memory-sink twin of a benched batch query); their
# batch counterparts carry the timed measurement. Class exemption, not
# per-name, so a new twin follows the same contract automatically.
STREAMING_PREFIX = "streaming_"


def test_no_jobs_at_query_construction(registry_builds):
    unknown = BUILD_JOB_ALLOWLIST - set(registry_builds)
    assert not unknown, f"allowlist names no registered query: {unknown}"
    offenders: dict[str, int] = {}
    clean_allowlisted: list[str] = []
    for name, build in sorted(registry_builds.items()):
        if name.startswith(STREAMING_PREFIX):
            continue
        if build.jobs > 0 and name not in BUILD_JOB_ALLOWLIST:
            offenders[name] = build.jobs
        if build.jobs == 0 and name in BUILD_JOB_ALLOWLIST:
            clean_allowlisted.append(name)
    assert not offenders, (
        f"queries ran Spark jobs during CONSTRUCTION (untimed work — move "
        f"it inside the action or allowlist with justification): {offenders}"
    )
    assert not clean_allowlisted, (
        f"allowlisted queries no longer run build-time jobs — remove them "
        f"from BUILD_JOB_ALLOWLIST: {clean_allowlisted}"
    )
