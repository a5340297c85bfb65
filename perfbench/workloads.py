"""The two workloads: seeded parameters and the engine calls of one pass.

``params`` is pure (NumPy only): the parent process uses it to build the
reference outputs and the child process to drive the engine, so both see
the same inputs for a given ``--seed``. The ``*_ops`` functions run in the
child; each op returns the collected rows of its final projection, which
the parent checks (``oracle.py``).

Sizes are constants, not options: a change to any of them is a benchmark
change and re-baselines every metric.
"""

from __future__ import annotations

import numpy as np

from datagen import PART_ADJ, SEGMENTS, VOCAB, sizes

WORKLOADS = ("graph_txn", "llm_dedup")

SF = 0.1  # TPC-H graph, documents and embeddings scale factor
NODE_BASE = 10**12
CUSTOMER = 3 * NODE_BASE
LOC_LABELS = ("Region", "Nation", "Customer", "Supplier")
LOC_EDGES = ("custLocatedIn", "suppLocatedIn", "nationLocatedIn")

PR_ITERATIONS = 3
CC_MAX_ITER = 10
MINHASH_THRESHOLD = 0.6
EMB_THRESHOLD = 0.35
EMB_BITS = 5
# 1 plane table, not the operator's default 8: the first call's driver-side
# plane build costs ~8 s per table on a 4-core box (warm: ~1 s), and 8
# tables would not fit the run budget. One table keeps the cold/warm gap.
EMB_TABLES = 1
SEMDEDUP_NLIST = 8
TOPK = 10
# a warm llm_dedup pass is ~9 s on 4 cores, short enough that one pass's
# noise (JIT still compiling, GC) shows across runs: take the median of two
LLM_MIN_PASSES = 3

HACKAGE_PACKAGES = 100
# 3, not open_graph's default 16: a 16-commit cycle takes minutes on a
# 4-core box (commit cost grows with commits since the last checkpoint),
# which no run budget affords. Two cycles still run: the first checkpoint
# lands on the first transaction after ingest + index (v3), the second
# closes the warm cycle (v6).
CHECKPOINT_EVERY = 3
PKG_BASE = 10**9


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def params(workload: str, seed: int, pass_no: int, sf: float = SF) -> dict:
    """Seeded read parameters and write stream of pass ``pass_no``."""
    n = sizes(sf)
    r = _rng(seed, WORKLOADS.index(workload), pass_no)
    if workload == "graph_txn":
        return {
            "segment": SEGMENTS[int(r.integers(len(SEGMENTS)))],
            "customer": int(r.integers(n["customer"])),
            "lookup": int(r.integers(n["customer"])),
            "txns": txn_stream(r, seed, pass_no),
        }
    if workload == "llm_dedup":
        return {
            "topk_query": int(r.integers(n["embeddings"])),
            "hybrid_vec": int(r.integers(n["embeddings"])),
            "hybrid_terms": " ".join(VOCAB[int(i)] for i in r.choice(len(VOCAB), 3, replace=False)),
        }
    raise ValueError(f"unknown workload {workload!r}")


def txn_stream(r: np.random.Generator, seed: int, pass_no: int) -> list[dict]:
    """The transactions of one checkpoint cycle. Pass 0 follows the bulk
    ingest (v1) and index registration (v2): one seeded transaction that
    reuses a taken package name and must be rejected, then the commit that
    reaches the first checkpoint (v3). Later passes are full cycles of
    ``CHECKPOINT_EVERY`` acknowledged commits, the last one a checkpoint.
    One rejection in the five transactions of the first two passes is the
    workload's violation rate: one in 8 would need 8 transactions, more
    than a run affords."""
    out: list[dict] = []
    kinds = [True, False] if pass_no == 0 else [False] * CHECKPOINT_EVERY
    for k, reject in enumerate(kinds):
        pkg = int(r.integers(HACKAGE_PACKAGES))
        name = f"pkg_{pkg}" if reject else f"new_{seed}_{pass_no}_{k}_{PART_ADJ[int(r.integers(len(PART_ADJ)))]}"
        out.append({
            "name": name,
            "reject": reject,
            "depends_on": PKG_BASE + int(r.integers(HACKAGE_PACKAGES)),
            "touch": PKG_BASE + pkg,
            "downloads": int(r.integers(1, 10**6)),
            "read": "index" if k % 2 == 0 else "traverse",
        })
    return out


# -- child side --------------------------------------------------------------

def loc_subgraph(snap):
    """Customer/Supplier -> Nation -> Region: the subgraph CC and PageRank
    run on (the repository's oracle queries use the same one)."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    return replace(
        snap,
        nodes=snap.nodes.filter(F.col("label").isin(list(LOC_LABELS))),
        edges=snap.edges.filter(F.col("label").isin(list(LOC_EDGES))),
    )


def graph_ops(snap, p: dict):
    """(name, layer, fn) of the analytics half of a graph_txn pass; ``fn(act)`` builds the
    query through the engine and hands the final DataFrame to ``act``,
    which runs the action."""
    from pyspark.sql import functions as F

    from hgraphstorage_spark import T
    from hgraphstorage_spark import analytics
    from hgraphstorage_spark.compiler import compile_traversal
    from hgraphstorage_spark.engine import build_index

    def traversal(act):
        res = compile_traversal(
            snap,
            T().ns().has_label("Customer").has("c_mktsegment", p["segment"]).out("placed").values("o_orderstatus"),
        )
        return act(res.df.filter(F.col("name") == "o_orderstatus").groupBy("value").count())

    def multi_hop(act):
        res = compile_traversal(snap, T().nid(CUSTOMER + p["customer"]).out("placed").out("contains"))
        return act(res.df.groupBy("id").count())

    def degrees(act):
        d = analytics.degrees(snap)
        return act(d.groupBy("label").agg(
            F.count(F.lit(1)), F.sum("out_deg"), F.sum("in_deg"), F.max("deg")
        ))

    def cc(act):
        comp = analytics.connected_components(loc_subgraph(snap), max_iter=CC_MAX_ITER)
        return act(comp.groupBy("component").count())

    def pagerank(act):
        pr = analytics.pagerank(loc_subgraph(snap), alpha=0.85, iterations=PR_ITERATIONS, dangling=True)
        return act(pr.select("id", "rank"))

    def index_lookup(act):
        idx = build_index(snap, ["Customer"], ["c_name"])
        return act(idx.filter(F.col("key") == f"Customer#{p['lookup']:09d}").select("owner_id", "key"))

    return [
        ("traversal", "compiler", traversal),
        ("multi_hop", "compiler", multi_hop),
        ("degrees", "analytics", degrees),
        ("connected_components", "analytics", cc),
        ("pagerank", "analytics", pagerank),
        ("index_lookup", "engine", index_lookup),
    ]


def llm_ops(docs, emb, p: dict):
    from hgraphstorage_spark.pipeline import dedup, search, similarity, text

    def quality(act):
        return act(text.quality_filter_narrow(docs).select(
            "doc_id", "n_tokens", "mean_tok_len", "top_term_ratio", "passes"
        ))

    def exact(act):
        return act(dedup.exact_dedup(docs).select("doc_id"))

    def minhash(act):
        return act(dedup.minhash_lsh_pairs(docs, threshold=MINHASH_THRESHOLD))

    def embed_lsh(act):
        return act(similarity.embedding_near_dup_lsh(
            emb, threshold=EMB_THRESHOLD, bits=EMB_BITS, tables=EMB_TABLES
        ))

    def semdedup(act):
        return act(similarity.semantic_dedup(emb, nlist=SEMDEDUP_NLIST))

    def topk(act):
        return act(similarity.cosine_topk(emb, p["topk_query"], k=TOPK))

    def hybrid(act):
        return act(search.hybrid_search(docs, emb, p["hybrid_terms"], query_vec_id=p["hybrid_vec"], k=TOPK)
                   .select("doc_id", "rrf", "lex_rank", "sem_rank", "rank"))

    return [
        ("quality_filter_narrow", "pipeline.text", quality),
        ("exact_dedup", "pipeline.dedup", exact),
        ("minhash_lsh_pairs", "pipeline.dedup", minhash),
        ("embedding_near_dup_lsh", "pipeline.similarity", embed_lsh),
        ("semantic_dedup", "pipeline.similarity", semdedup),
        ("cosine_topk", "pipeline.similarity", topk),
        ("hybrid_search", "pipeline.search", hybrid),
    ]
