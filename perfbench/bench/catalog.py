"""The two catalog workloads: which ``SparkEntry.queries`` rows they
run, on which fixture, and how rows group into families."""
import json
import os
import random

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(HERE, "data")
REFERENCE = os.path.join(HERE, "reference", "catalog_digests.json")

FAMILIES = ("text", "dedup", "graph", "sim", "emb", "evt", "agg", "sql",
            "feat", "join", "shard", "win")
JOIN_ROWS = ("q1_pricing", "q3_shipping", "q5_multiway")
# rows whose operator runs Spark in a loop of rounds: graph LPA,
# PageRank and k-core, dedup connected components, BPE merges,
# perceptron rounds, IVF/PQ k-means and semantic admission
ITERATIVE = ("q_graph_lpa", "q_graph_pagerank", "q_graph_kcore", "q_dedup_cc",
             "q_dedup_cc_star", "q_text_bpe", "q_text_bpe_batched",
             "q_text_bpe_encode", "q_text_perceptron", "q_sim_ivf", "q_sim_ivfpq",
             "q_sim_ivfpq_serve", "q_sim_pq", "q_dedup_semantic_admit")


def family(name):
    if name in JOIN_ROWS:
        return "join"
    parts = name.split("_")
    return parts[1] if len(parts) > 2 and parts[1] in FAMILIES else "misc"


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def reference():
    with open(REFERENCE) as f:
        return json.load(f)


def schedule(seed, rows, warmup_passes, passes):
    """(warm-up, timed passes). The warm-up runs every row once in name
    order, then warmup_passes - 1 more passes; each pass runs every row
    once, in an order the seed shuffles."""
    rng = random.Random(seed)
    shuffled = []
    for _ in range(warmup_passes - 1 + passes):
        p = sorted(rows)
        rng.shuffle(p)
        shuffled.append(p)
    warmup = sorted(rows) + [r for p in shuffled[:warmup_passes - 1] for r in p]
    return warmup, shuffled[warmup_passes - 1:]
