"""The workloads and the seeded inputs each one is driven with.

Every input a run uses is a function of the workload's fixed definition and
the ``--seed`` argument alone.  The tables are seed-free (see datagen); the
seed shapes the ``/recs`` request list.  The batch workloads run fixed row
lists, so their seed changes nothing they run.
"""
import numpy as np

# Why each workload exists is documented in perfbench/README.md.
RECS_SF = 0.01
BATCH_SF = 0.001

# The eleven propagation-loop rows GraphAlgs serves, in name order.  The
# two loop rows of other modules (sim_power_iteration, store_components_at)
# are left out: their prewarm families (Similarity, EventStreams) would add
# about 30 s of set-up to every run.
LOOP_ROWS = [
    "components_fixed_sizes", "convergence_audit", "graph_kcore",
    "graph_lpa_communities", "graphx_components", "graphx_shortest_paths",
    "hits_fixed_top", "pagerank_fixed_top", "ppr_fixed_recs", "ppr_fixed_top",
    "weighted_pagerank_top",
]

# Every twenty-fourth oracle-backed row, in name order, of the five
# registries whose rows need no prewarm under graft.Bench's gate
# (relational, text, dedup, multimodal, sources; their BPE, quality-model,
# bloom and z-order rows are gated and left out).
SAMPLE_ROWS = [
    "ab_conversion_report", "dedup_containment", "median_price_per_brand",
    "mm_audio_energy", "skew_salted_join_counts", "source_jdbc_counts",
    "text_bigrams", "text_rolling_hash",
]

WORKLOADS = {
    "recs_serve": {"sf": RECS_SF, "rows": []},
    "registry_sweep": {"sf": BATCH_SF,
                       "rows": sorted(LOOP_ROWS + SAMPLE_ROWS)},
}

# One block of the request mix: 9 product cascades (45%), 6 customer
# cascades (30%), 2 rrf (10%), 2 item (10%), 1 unknown id (5%).  Every
# block holds the whole mix, so any prefix the closed loop gets through has
# the stated shares; the seed orders each block and draws the ids.
BLOCK = (["product"] * 9 + ["customer"] * 6 + ["rrf"] * 2 + ["item"] * 2
         + ["unknown"])
# A window holds at least this many blocks, so a slow host measures the same
# work as a fast one instead of stopping after the first block.
MIN_BLOCKS = 2
ZIPF_S = 1.1
# Ids at or past this offset are in no table.
UNKNOWN_BASE = 1_000_000_000


def recs_requests(seed, n_parts, n_customers, n_blocks=200):
    """The seeded request list: ``n_blocks`` shuffled blocks of the mix.

    Product seeds follow Zipf(1.1) over a seeded permutation of the part
    keys, so hot products differ between seeds; customers are uniform.
    """
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_parts + 1) ** ZIPF_S
    weights /= weights.sum()
    hot = rng.permutation(n_parts)

    def product():
        return int(hot[rng.choice(n_parts, p=weights)])

    out = []
    for _ in range(n_blocks):
        for slot in rng.permutation(BLOCK):
            if slot == "product":
                out.append({"kind": "product", "id": product(), "arm": "default"})
            elif slot in ("rrf", "item"):
                out.append({"kind": "product", "id": product(), "arm": str(slot)})
            elif slot == "customer":
                out.append({"kind": "customer",
                            "id": int(rng.integers(0, n_customers)),
                            "arm": "default"})
            else:
                arm = ("default", "rrf", "item", "customer")[rng.integers(0, 4)]
                out.append({"kind": "customer" if arm == "customer" else "product",
                            "id": UNKNOWN_BASE + int(rng.integers(0, 1000)),
                            "arm": "default" if arm == "customer" else arm})
    return out


def warmup_requests(n_parts, n_customers, rounds=3):
    """The fixed warm-up list sent during set-up: ``rounds`` of one product
    cascade, customer cascade, rrf and item request each, the first of each
    kind in the blocks of seed 0."""
    firsts = {}
    for r in recs_requests(0, n_parts, n_customers, n_blocks=rounds):
        if r["id"] < UNKNOWN_BASE:
            firsts.setdefault((r["kind"], r["arm"]), []).append(r)
    return [firsts[k][i] for i in range(rounds) for k in
            (("product", "default"), ("customer", "default"),
             ("product", "rrf"), ("product", "item"))]


def repeat_frac(requests):
    """Share of requests whose (kind, id, arm) came earlier in the list."""
    seen, repeats = set(), 0
    for r in requests:
        key = (r["kind"], r["id"], r["arm"])
        repeats += key in seen
        seen.add(key)
    return repeats / len(requests) if requests else 0.0
