"""Output checks, computed outside the engine and outside every timer.

Where a query has a SQL form (the repository's DuckDB oracle covers the
traversal, multi-hop, degree, connected-component and index queries),
the reference is DuckDB over the same parquet files with the seeded
parameters, and the op's rows must equal it as a multiset. The rest are
checked exactly with NumPy/Python where the result is a deterministic
function of the input (PageRank, quality filter, exact dedup, cosine
top-k, semantic-dedup keep rule), and by invariants where it depends on
hash families the engine owns (MinHash and hyperplane LSH candidates,
BM25 ranks): every reported pair or score must be real, and the planted
near-duplicates must be found.
"""

from __future__ import annotations

import hashlib
import json
import re
from collections import Counter, defaultdict

import numpy as np

import workloads as W

NODE = {"Region": 1, "Nation": 2, "Customer": 3, "Supplier": 4, "Part": 5, "Order": 6}
N = {k: v * W.NODE_BASE for k, v in NODE.items()}
WS = re.compile(r"[ \t\n\x0B\f\r]+")


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, str):
        try:
            if "." in v:
                return round(float(v), 6)
        except ValueError:
            pass
    return v


def digest(rows) -> str:
    """Hash of an op's output without regard to row order; decimals and
    floats compare at 6 digits."""
    canon = sorted(json.dumps([_norm(x) for x in r]) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


class Reference:
    """Lazily loaded tables (DuckDB and NumPy) for one data directory."""

    def __init__(self, data_dir: str):
        import duckdb

        self.db = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents", "embeddings"):
            self.db.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        self._emb = None
        self._docs = None
        self.cache: dict[str, list] = {}  # references that no seeded parameter changes

    def sql(self, q: str, *args) -> list[list]:
        return [list(r) for r in self.db.execute(q, list(args)).fetchall()]

    @property
    def emb(self):
        if self._emb is None:
            ids = np.array([r[0] for r in self.sql("SELECT vec_id FROM embeddings ORDER BY vec_id")])
            vec = np.array([r[0] for r in self.sql("SELECT embedding FROM embeddings ORDER BY vec_id")], dtype=np.float64)
            self._emb = (ids, vec / np.linalg.norm(vec, axis=1, keepdims=True))
        return self._emb

    @property
    def docs(self) -> list[tuple[int, str]]:
        if self._docs is None:
            self._docs = [(int(a), b) for a, b in self.sql("SELECT doc_id, text FROM documents ORDER BY doc_id")]
        return self._docs

    # -- graph_analytics ------------------------------------------------------
    def traversal(self, p):
        return self.sql(
            "SELECT o_orderstatus, count(*) FROM orders JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = ? GROUP BY 1", p["segment"])

    def multi_hop(self, p):
        return self.sql(
            f"SELECT ({N['Part']} + l_partkey)::BIGINT, count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_custkey = ? GROUP BY l_partkey", p["customer"])

    def degrees(self, p):
        return self.sql(f"""
            WITH nodes AS (
              SELECT {N['Region']} + r_regionkey AS id, 'Region' AS label FROM region
              UNION ALL SELECT {N['Nation']} + n_nationkey, 'Nation' FROM nation
              UNION ALL SELECT {N['Customer']} + c_custkey, 'Customer' FROM customer
              UNION ALL SELECT {N['Supplier']} + s_suppkey, 'Supplier' FROM supplier
              UNION ALL SELECT {N['Part']} + p_partkey, 'Part' FROM part
              UNION ALL SELECT {N['Order']} + o_orderkey, 'Order' FROM orders),
            e AS (
              SELECT {N['Customer']} + c_custkey AS src, {N['Nation']} + c_nationkey AS dst FROM customer
              UNION ALL SELECT {N['Supplier']} + s_suppkey, {N['Nation']} + s_nationkey FROM supplier
              UNION ALL SELECT {N['Nation']} + n_nationkey, {N['Region']} + n_regionkey FROM nation
              UNION ALL SELECT {N['Customer']} + o_custkey, {N['Order']} + o_orderkey FROM orders
              UNION ALL SELECT {N['Order']} + l_orderkey, {N['Part']} + l_partkey FROM lineitem
              UNION ALL SELECT {N['Part']} + l_partkey, {N['Supplier']} + l_suppkey FROM lineitem),
            o AS (SELECT src AS id, count(*) AS c FROM e GROUP BY 1),
            i AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY 1)
            SELECT label, count(*), sum(coalesce(o.c, 0))::BIGINT, sum(coalesce(i.c, 0))::BIGINT,
                   max(coalesce(o.c, 0) + coalesce(i.c, 0))::BIGINT
            FROM nodes LEFT JOIN o USING (id) LEFT JOIN i USING (id) GROUP BY label""")

    def connected_components(self, p):
        return self.sql(f"""
            SELECT ({N['Region']} + r_regionkey)::BIGINT,
                   (1 + (SELECT count(*) FROM nation WHERE n_regionkey = r_regionkey)
                      + (SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = r_regionkey)
                      + (SELECT count(*) FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_regionkey = r_regionkey)
                   )::BIGINT
            FROM region""")

    def pagerank(self, p):
        """Power iteration with the operator's semantics: uniform start,
        dangling mass spread uniformly, ``W.PR_ITERATIONS`` rounds."""
        ids = [r[0] for r in self.sql(f"""
            SELECT {N['Region']} + r_regionkey FROM region UNION ALL SELECT {N['Nation']} + n_nationkey FROM nation
            UNION ALL SELECT {N['Customer']} + c_custkey FROM customer UNION ALL SELECT {N['Supplier']} + s_suppkey FROM supplier""")]
        edges = np.array(self.sql(f"""
            SELECT {N['Customer']} + c_custkey, {N['Nation']} + c_nationkey FROM customer
            UNION ALL SELECT {N['Supplier']} + s_suppkey, {N['Nation']} + s_nationkey FROM supplier
            UNION ALL SELECT {N['Nation']} + n_nationkey, {N['Region']} + n_regionkey FROM nation"""), dtype=np.int64)
        pos = {v: i for i, v in enumerate(ids)}
        n = len(ids)
        src = np.array([pos[v] for v in edges[:, 0]])
        dst = np.array([pos[v] for v in edges[:, 1]])
        out_deg = np.bincount(src, minlength=n).astype(np.float64)
        rank = np.full(n, 1.0 / n)
        alpha = 0.85
        for _ in range(W.PR_ITERATIONS):
            dm = rank[out_deg == 0].sum()
            inflow = np.bincount(dst, weights=rank[src] / out_deg[src], minlength=n)
            rank = (1.0 - alpha) / n + alpha * dm / n + alpha * inflow
        return [[v, rank[i]] for i, v in enumerate(ids)]

    def index_lookup(self, p):
        return self.sql(f"SELECT ({N['Customer']} + c_custkey)::BIGINT, c_name FROM customer WHERE c_name = ?",
                        f"Customer#{p['lookup']:09d}")

    # -- llm_dedup --------------------------------------------------------------
    def quality_filter_narrow(self, p):
        out = []
        for doc_id, text in self.docs:
            toks = [t for t in WS.split(text.strip().lower()) if t]
            n = len(toks)
            mean = round(sum(len(t) for t in toks) / n, 6) if n else None
            top = round(max(Counter(toks).values()) / n, 6) if n else None
            ok = bool(n and 10 <= n <= 100_000 and 2.0 <= mean <= 12.0 and top <= 0.25)
            out.append([doc_id, n, mean, top, ok])
        return out

    def exact_dedup(self, p):
        first: dict[str, int] = {}
        for doc_id, text in self.docs:
            first[text] = min(first.get(text, doc_id), doc_id)
        return [[v] for v in first.values()]

    def cosine_topk(self, p):
        ids, vec = self.emb
        q = int(np.nonzero(ids == p["topk_query"])[0][0])
        score = vec @ vec[q]
        order = sorted((i for i in range(len(ids)) if i != q), key=lambda i: (-round(score[i], 6), ids[i]))
        return [[int(ids[i]), round(float(score[i]), 6)] for i in order[: W.TOPK]]

    def shingles(self, text: str) -> set:
        words = WS.split(text.strip().lower())
        return {tuple(words[i: i + 5]) for i in range(max(1, len(words) - 4))}


def _close(a, b, tol=2e-6) -> bool:
    return a is not None and b is not None and abs(float(a) - float(b)) <= tol


def check_invariants(ref: Reference, op: str, rows, p) -> str | None:
    """Checks for ops without an exact reference. Returns a reason on
    failure, None when the output holds."""
    if op == "minhash_lsh_pairs":
        text = dict(ref.docs)
        seen = set()
        for a, b, jac in rows:
            if not (a in text and b in text and a < b) or (a, b) in seen:
                return f"bad pair {(a, b)}"
            seen.add((a, b))
            sa, sb = ref.shingles(text[a]), ref.shingles(text[b])
            exact = len(sa & sb) / len(sa | sb)
            if not _close(jac, exact, 1e-5) or exact < W.MINHASH_THRESHOLD:
                return f"pair {(a, b)} jaccard {jac} != exact {exact:.6f}"
        # planted near-duplicates (text + " dup") above 0.9 must be found
        by_text = defaultdict(list)
        for d, t in ref.docs:
            by_text[t].append(d)
        planted = []
        for d, t in ref.docs:
            if t.endswith(" dup") and t[:-4] in by_text:
                src = min(by_text[t[:-4]])
                sa, sb = ref.shingles(t), ref.shingles(t[:-4])
                if len(sa & sb) / len(sa | sb) >= 0.9:
                    planted.append((min(src, d), max(src, d)))
        found = sum(pr in seen for pr in planted)
        if planted and found < 0.9 * len(planted):
            return f"recall {found}/{len(planted)} on planted near-duplicates"
        return None
    if op == "embedding_near_dup_lsh":
        ids, vec = ref.emb
        pos = {int(v): i for i, v in enumerate(ids)}
        for a, b, score in rows:
            if a not in pos or b not in pos or a == b:
                return f"bad pair {(a, b)}"
            exact = float(vec[pos[a]] @ vec[pos[b]])
            if not _close(score, exact, 2e-5) or float(score) < W.EMB_THRESHOLD:
                return f"pair {(a, b)} score {score} != cosine {exact:.6f}"
        if not rows:
            return "no pairs"
        return None
    if op == "semantic_dedup":
        ids, vec = ref.emb
        pos = {int(v): i for i, v in enumerate(ids)}
        if sorted(r[0] for r in rows) != sorted(int(v) for v in ids):
            return "not one row per vector"
        lists = defaultdict(list)
        for vid, lid, keep in rows:
            if not 0 <= lid < W.SEMDEDUP_NLIST:
                return f"list id {lid}"
            lists[lid].append(vid)
        keep = {r[0]: r[2] for r in rows}
        for members in lists.values():
            m = np.array(sorted(members))
            sims = vec[[pos[v] for v in m]] @ vec[[pos[v] for v in m]].T
            for j, vid in enumerate(m):
                lower = sims[j, :j]
                dup_hi = bool((lower >= W.EMB_THRESHOLD + 1e-5).any())
                dup_lo = bool((lower >= W.EMB_THRESHOLD - 1e-5).any())
                if keep[int(vid)] and dup_hi or not keep[int(vid)] and not dup_lo:
                    return f"keep flag of {vid} breaks the lowest-id rule"
        return None
    if op == "hybrid_search":
        text = dict(ref.docs)
        if not 1 <= len(rows) <= W.TOPK:
            return f"{len(rows)} rows"
        ranks = sorted(r[4] for r in rows)
        if ranks != list(range(1, len(rows) + 1)) or len({r[0] for r in rows}) != len(rows):
            return "ranks or ids not distinct"
        for doc, rrf, lex, sem, rank in rows:
            if doc not in text or (lex is None and sem is None):
                return f"doc {doc} not from either list"
            want = sum(1.0 / (60 + r) for r in (lex, sem) if r is not None)
            if not _close(rrf, want, 1e-6):
                return f"doc {doc} rrf {rrf} != {want:.6f}"
        by_rank = sorted(rows, key=lambda r: r[4])
        if any(float(a[1]) < float(b[1]) for a, b in zip(by_rank, by_rank[1:])):
            return "rrf not descending by rank"
        # the semantic list is the exact cosine order of the query vector
        ids, vec = ref.emb
        q = int(np.nonzero(ids == p["hybrid_vec"])[0][0])
        score = vec @ vec[q]
        order = [int(ids[i]) for i in sorted((i for i in range(len(ids)) if i != q),
                                             key=lambda i: (-round(score[i], 6), ids[i]))]
        for doc, _, _, sem, _ in rows:
            if sem is not None and order[sem - 1] != doc:
                return f"doc {doc} sem_rank {sem} but cosine rank {order.index(doc) + 1}"
        return None
    return f"no check for {op}"


EXACT = {"traversal", "multi_hop", "degrees", "connected_components", "pagerank", "index_lookup",
         "quality_filter_narrow", "exact_dedup", "cosine_topk"}
UNPARAMETERIZED = {"degrees", "connected_components", "pagerank", "quality_filter_narrow", "exact_dedup"}


def check_op(ref: Reference, rec: dict, p: dict) -> str | None:
    op, rows = rec["op"], rec["rows"]
    if op in EXACT:
        if op in UNPARAMETERIZED:
            if op not in ref.cache:
                ref.cache[op] = getattr(ref, op)(p)
            want = ref.cache[op]
        else:
            want = getattr(ref, op)(p)
        if op == "pagerank":
            got = {r[0]: r[1] for r in rows}
            if len(got) != len(want) or any(not _close(got.get(v), r, 1e-9) for v, r in want):
                return "ranks differ from the power-iteration reference"
            return None
        if digest(rows) != digest(want):
            return f"output hash differs from the reference ({len(rows)} vs {len(want)} rows)"
        return None
    return check_invariants(ref, op, rows, p)


def check_durable(out: dict) -> list[tuple[str, str]]:
    """graph_txn writes: seeded rejections raised DuplicateIndexKey, every other
    transaction was acknowledged, read-your-writes reads saw the write, and
    every acknowledged transaction survives a fresh open_graph."""
    fails = []
    for t in out["txns"]:
        tag = f"p{t['pass']}.txn{t['k']}"
        if not t["ok"]:
            fails.append((tag, "raised"))
        elif t["reject"] != t["rejected"]:
            fails.append((tag, "rejection expected" if t["reject"] else "unexpected DuplicateIndexKey"))
    acked = sorted(t["name"] for t in out["txns"] if "version" in t)
    if out["recovered_names"] != acked:
        fails.append(("recovery", f"{len(out['recovered_names'])} of {len(acked)} acknowledged writes after reopen"))
    if out["recovery_first_rows"] != (1 if acked else 0):
        fails.append(("recovery", "first read after reopen"))
    return fails


def check_durable_op(rec: dict, out: dict) -> str | None:
    op, rows = rec["op"], rec["rows"]
    if op.startswith("read"):
        t = next(t for t in out["txns"] if t["pass"] == rec["pass"] and f"read{t['k']}" == op)
        want = [[t["node"]]] if t["read"] == "index" else [[t["depends_on"]]]
        return None if rows == want else f"{t['read']} read {rows} != {want}"
    if op == "snapshot_at":
        version = rows[-1][1]
        n_new = sum(1 for t in out["txns"] if "version" in t and t["version"] <= version)
        base = {r[0]: r[1] for r in rows[:-1]}
        want_pkg = W.HACKAGE_PACKAGES + n_new
        return None if base.get("Package") == want_pkg else f"Package count {base.get('Package')} != {want_pkg} at v{version}"
    if op == "bulk_ingest":
        counts = {r[0]: r[1] for r in rows}
        want_ver = sum(120 if i == 0 else 1 + (i * i) % 113 for i in range(W.HACKAGE_PACKAGES))
        if counts.get("Package") != W.HACKAGE_PACKAGES or counts.get("Version") != want_ver:
            return f"ingested {counts}"
        return None
    return f"no check for {op}"
