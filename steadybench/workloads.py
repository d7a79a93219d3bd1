"""Workload definitions: which registered queries run, over which inputs.

Each workload is one closed loop: a single client thread issues the mix's
queries one after another, in registry order, on ``local[min(4, nproc)]``.
A call is the query builder, Catalyst planning and a noop-sink write.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: frozenset[str]
    #: generator sizes (see gen.generate)
    sizes: dict = field(default_factory=dict)
    #: the timed window runs at least this many passes: more measured work
    #: where a pass is short
    min_passes: int = 1
    #: input tables each query reads; the rows of these tables are the
    #: "input rows" a call is credited with in rows_per_s
    reads: dict = field(default_factory=dict)


CORPUS = Workload(
    name="corpus_batch",
    why=(
        "reference text pipeline plus LLM-data dedup over 4k tweet-length documents "
        "in 8 files: text, Python-worker, sketch and shuffle work on every core"
    ),
    queries=frozenset(
        {"clean_tokens_freq", "lemma_freq", "tfidf_topterms", "minhash_near_dups", "simhash_near_dups"}
    ),
    sizes={"documents": 4_000, "doc_files": 8},
    min_passes=2,
    reads={
        "clean_tokens_freq": ("documents",),
        "lemma_freq": ("documents",),
        "tfidf_topterms": ("documents",),
        "minhash_near_dups": ("documents",),
        "simhash_near_dups": ("documents",),
    },
)

DASHBOARD_STREAM = Workload(
    name="dashboard_stream",
    why=(
        "short interactive reads over a sf0.1 star schema, 100k Zipfian events "
        "and 2k embeddings, plus stream state-store and CSV/JSON sink writes"
    ),
    queries=frozenset(
        {
            "revenue_by_flag",
            "top_orders_per_cust",
            "running_revenue",
            "order_revenue_having",
            "cosine_topk",
            "csv_roundtrip_agg",
            "json_roundtrip_agg",
            "asof_click_attribution",
            "tumbling_events_hourly",
            "session_events",
            "window_analytics",
            "streaming_tumbling_counts",
            "streaming_dedup_counts",
            "ann_lsh_topk",
        }
    ),
    sizes={"star": 0.1, "events": 100_000, "embeddings": 2_000},
    reads={
        "revenue_by_flag": ("lineitem",),
        "top_orders_per_cust": ("orders",),
        "running_revenue": ("orders",),
        "order_revenue_having": ("orders", "lineitem"),
        "cosine_topk": ("embeddings",),
        "csv_roundtrip_agg": ("customer",),
        "json_roundtrip_agg": ("orders",),
        "asof_click_attribution": ("events",),
        "tumbling_events_hourly": ("events",),
        "session_events": ("events",),
        "window_analytics": ("orders",),
        "streaming_tumbling_counts": ("events",),
        "streaming_dedup_counts": ("events",),
        "ann_lsh_topk": ("embeddings",),
    },
)

WORKLOADS = {w.name: w for w in (CORPUS, DASHBOARD_STREAM)}

#: The small table every set-up forces through io.load_table.
SETUP_TABLE = "region"


def mix(workload: Workload, registry: dict) -> list[tuple[str, object]]:
    """The workload's queries as (name, builder) pairs in registry order."""
    missing = workload.queries - set(registry)
    if missing:
        raise KeyError(f"{workload.name}: queries not registered: {sorted(missing)}")
    return [(name, fn) for name, fn in registry.items() if name in workload.queries]


def input_rows(workload: Workload, name: str, rows: dict[str, int]) -> int:
    return sum(rows[t] for t in workload.reads[name])
