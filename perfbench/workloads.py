"""The workloads: what each one runs, on which inputs, and why.

Every workload is closed-loop with one client: the next op starts when the
previous one has returned. Ops are drawn in whole *decks*: a deck holds each
op of the workload as many times as its weight, shuffled by the run's seed,
so every run measures the same op mix and only the order and the data
differ. A weight above 1 widens one op class so that the pooled median lands
inside that class instead of in the gap between two classes.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    docs: int  # documents in the main input
    sf: float  # relational scale factor of the main input (0.1 = 600k lineitems)
    deck: dict[str, int]  # registered op -> copies per deck
    warmup_passes: int  # passes over the distinct ops before timing starts
    deck_s: float  # nominal seconds of one warm deck on a 4-core host
    shard_docs: int = 0  # size of the fresh shard each deck's shard_ops read
    shard_ops: frozenset[str] = frozenset()

    def decks(self, seconds: float) -> int:
        """Whole decks a window of ``seconds`` holds at the nominal deck time.
        The count is fixed for a given ``seconds``, so every run measures the
        same ops: a run that stopped on elapsed time would measure more of the
        later, faster decks when it runs fast, and one deck more or less
        moved the median by a third."""
        return max(1, round(seconds / self.deck_s))

    def deck_order(self, rng: random.Random) -> list[str]:
        ops = [op for op, n in self.deck.items() for _ in range(n)]
        rng.shuffle(ops)
        return ops


# One curation job: the curation pipeline, the three dedup passes and the
# quality statistics, on a shard no earlier op has read, so every pin the
# job builds starts cold.
CURATION_OPS = frozenset({
    "llm_curation_pipeline",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_cluster",
    "text_quality_stats",
})

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "search",
            "the paper's query path: ten query types, each re-deriving its "
            "postings from the raw documents of one shared corpus",
            docs=3000, sf=0.001,
            deck={
                "text_term_lookup": 1,
                "text_term_lookup_sharded": 1,
                "text_bool_and": 1,
                "text_phrase": 1,
                "text_proximity_search": 1,
                "join_self_positional": 1,
                "text_snippet": 3,
                "text_bm25": 1,
                "sql_index_search": 1,
                "text_fuzzy_term_lookup": 1,
            },
            warmup_passes=4, deck_s=4.5,
        ),
        Workload(
            "batch",
            "TPC-H-shaped analytics plus one LLM-curation job per fresh shard: "
            "operators, sql_api, llm and caching work while the search layers idle",
            docs=200, sf=0.005,
            deck={
                "agg_hash_groupby": 1,
                "sql_revenue_topn": 1,
                "sql_local_supplier_volume": 1,
                "sql_volume_shipping": 1,
                "sql_market_share": 1,
                "sql_shipping_priority": 1,
                "sql_returned_items": 3,
                "sql_promo_revenue": 1,
                "join_asof": 1,
                "win_rank": 1,
                "topk_per_group": 1,
                "sort_limit": 1,
                **dict.fromkeys(sorted(CURATION_OPS), 1),
            },
            warmup_passes=2, deck_s=8.0,
            shard_docs=300, shard_ops=CURATION_OPS,
        ),
    )
}


def layer_of(module: str) -> str:
    """The layer that owns an operator, from the module that registers it:
    ``sdu_hadoop_indexer_spark.text.search`` -> ``text.search``; every
    ``operators.*`` module is one layer."""
    name = module.split(".", 1)[1]
    return "operators" if name.startswith("operators.") else name
