"""Output checks, run after the measured window.

``/recs`` answers are compared item by item with a DuckDB answer for the
same arm and seed.  Batch rows are hashed in ``tools/hash_audit.py``'s
canonical form and compared with the hashes pinned in ``hashes.json``.
"""
import importlib.util
import json
import os

import duckdb

TOP_K = 10
RRF_K = 60
MAX_BASKET = 1000  # graft.graph.GraphAlgs.MaxBasketSize

_ITEMS = ("items AS (SELECT DISTINCT l_orderkey AS order_id, "
          "l_partkey AS product_id FROM lineitem)")
_PART_CAT = ("part_cat AS (SELECT p_partkey AS product_id, "
             "p_brand AS category_id FROM part)")

# Each query returns (seed, product_id, score, reason, r) for the seeds in
# the `seeds` table, r being the item's position in the answer.
_SQL = {
    "product_co": f"""WITH {_ITEMS},
        so AS (SELECT s.seed, i.order_id FROM seeds s
               JOIN items i ON i.product_id = s.seed),
        co AS (SELECT so.seed, i.product_id,
                 CAST(count(*) AS DOUBLE) AS score
               FROM so JOIN items i USING (order_id)
               WHERE i.product_id <> so.seed GROUP BY 1, 2)
        SELECT * FROM (SELECT seed, product_id, score,
            'co-occurrence' AS reason, row_number() OVER (
              PARTITION BY seed ORDER BY score DESC, product_id) AS r
          FROM co) WHERE r <= {TOP_K}""",
    "product_cat": f"""WITH {_PART_CAT},
        sc AS (SELECT s.seed, pc.category_id FROM seeds s
               JOIN part_cat pc ON pc.product_id = s.seed)
        SELECT * FROM (SELECT sc.seed, p.product_id,
            CAST(1.0 AS DOUBLE) AS score, 'same-category' AS reason,
            row_number() OVER (PARTITION BY sc.seed ORDER BY p.product_id) AS r
          FROM part_cat p JOIN sc USING (category_id)
          WHERE p.product_id <> sc.seed) WHERE r <= {TOP_K}""",
    "customer_co": f"""WITH {_ITEMS},
        myorders AS (SELECT s.seed, o.o_orderkey AS order_id FROM seeds s
                     JOIN orders o ON o.o_custkey = s.seed),
        bind1 AS (SELECT m.seed, i.order_id, i.product_id
                  FROM myorders m JOIN items i USING (order_id)),
        mine AS (SELECT DISTINCT seed, product_id FROM bind1),
        mult AS (SELECT seed, product_id, CAST(count(*) AS BIGINT) AS m
                 FROM bind1 GROUP BY 1, 2),
        owgt AS (SELECT mu.seed, i.order_id, CAST(sum(mu.m) AS BIGINT) AS w
                 FROM items i JOIN mult mu USING (product_id) GROUP BY 1, 2),
        sc0 AS (SELECT ow.seed, i.product_id, ow.w
                FROM items i JOIN owgt ow USING (order_id)),
        sc1 AS (SELECT s0.* FROM sc0 s0 ANTI JOIN mine USING (seed, product_id)),
        sc AS (SELECT seed, product_id, CAST(sum(w) AS DOUBLE) AS score
               FROM sc1 GROUP BY 1, 2)
        SELECT * FROM (SELECT seed, product_id, score,
            'co-occurrence' AS reason, row_number() OVER (
              PARTITION BY seed ORDER BY score DESC, product_id) AS r
          FROM sc) WHERE r <= {TOP_K}""",
    "customer_cat": f"""WITH {_ITEMS}, {_PART_CAT},
        myorders AS (SELECT s.seed, o.o_orderkey AS order_id FROM seeds s
                     JOIN orders o ON o.o_custkey = s.seed),
        mine AS (SELECT DISTINCT m.seed, i.product_id
                 FROM myorders m JOIN items i USING (order_id)),
        my_cats AS (SELECT DISTINCT m.seed, pc.category_id
                    FROM part_cat pc JOIN mine m USING (product_id)),
        cand AS (SELECT DISTINCT mc.seed, pc.product_id
                 FROM part_cat pc JOIN my_cats mc USING (category_id)),
        cand2 AS (SELECT c.* FROM cand c ANTI JOIN mine USING (seed, product_id))
        SELECT * FROM (SELECT seed, product_id, CAST(1.0 AS DOUBLE) AS score,
            'same-category' AS reason, row_number() OVER (
              PARTITION BY seed ORDER BY product_id) AS r
          FROM cand2) WHERE r <= {TOP_K}""",
    "rrf": f"""WITH {_ITEMS}, {_PART_CAT},
        so AS (SELECT s.seed, i.order_id FROM seeds s
               JOIN items i ON i.product_id = s.seed),
        co AS (SELECT so.seed, i.product_id, count(*) AS score
               FROM so JOIN items i USING (order_id)
               WHERE i.product_id <> so.seed GROUP BY 1, 2),
        cor AS (SELECT seed, product_id, row_number() OVER (
                  PARTITION BY seed ORDER BY score DESC, product_id) AS r_co
                FROM co),
        sc AS (SELECT s.seed, pc.category_id FROM seeds s
               JOIN part_cat pc ON pc.product_id = s.seed),
        catr AS (SELECT sc.seed, p.product_id, row_number() OVER (
                   PARTITION BY sc.seed ORDER BY p.product_id) AS r_cat
                 FROM part_cat p JOIN sc USING (category_id)
                 WHERE p.product_id <> sc.seed),
        fused AS (SELECT seed, product_id,
            COALESCE(CAST(1 AS DOUBLE) / CAST({RRF_K} + r_co AS DOUBLE),
              CAST(0 AS DOUBLE)) +
            COALESCE(CAST(1 AS DOUBLE) / CAST({RRF_K} + r_cat AS DOUBLE),
              CAST(0 AS DOUBLE)) AS score
          FROM cor FULL OUTER JOIN catr USING (seed, product_id))
        SELECT * FROM (SELECT seed, product_id, score, 'rrf_fusion' AS reason,
            row_number() OVER (
              PARTITION BY seed ORDER BY score DESC, product_id) AS r
          FROM fused) WHERE r <= {TOP_K}""",
    "item": f"""WITH {_ITEMS},
        sane AS (SELECT order_id FROM items GROUP BY order_id
                 HAVING count(*) <= {MAX_BASKET}),
        bounded AS (SELECT i.* FROM items i JOIN sane USING (order_id)),
        counts AS (SELECT a.product_id AS seed, b.product_id,
            CAST(count(*) AS BIGINT) AS n_orders
          FROM bounded a JOIN bounded b ON a.order_id = b.order_id
           AND a.product_id <> b.product_id
          WHERE a.product_id IN (SELECT seed FROM seeds)
          GROUP BY 1, 2)
        SELECT * FROM (SELECT seed, product_id,
            CAST(n_orders AS DOUBLE) AS score, 'item-item' AS reason,
            row_number() OVER (
              PARTITION BY seed ORDER BY n_orders DESC, product_id) AS r
          FROM counts) WHERE r <= 3""",
}


def _answers(con, name, seeds):
    """seed -> [(product_id, score, reason), ...] in answer order."""
    con.execute("CREATE OR REPLACE TEMP TABLE seeds (seed BIGINT)")
    if seeds:
        con.executemany("INSERT INTO seeds VALUES (?)", [[s] for s in seeds])
    out = {s: [] for s in seeds}
    for seed, pid, score, reason, _ in con.execute(
            _SQL[name] + " ORDER BY seed, r").fetchall():
        out[seed].append((pid, score, reason))
    return out


def expected_recs(data_dir, requests):
    """DuckDB's answer to each distinct (kind, id, arm) in ``requests``,
    following the /recs cascade: an rrf or item arm with no answer falls
    back to the product cascade, which falls back from co-occurrence to the
    seed's category; the customer cascade falls back from co-occurrence to
    the categories the customer bought from."""
    con = duckdb.connect()
    for t in ("part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    products = sorted({r["id"] for r in requests if r["kind"] == "product"})
    customers = sorted({r["id"] for r in requests if r["kind"] == "customer"})
    arms = {n: _answers(con, n, customers if n.startswith("customer") else products)
            for n in _SQL}
    out = {}
    for r in requests:
        key = (r["kind"], r["id"], r["arm"])
        if key in out:
            continue
        s = r["id"]
        if r["kind"] == "customer":
            ans = arms["customer_co"][s] or arms["customer_cat"][s]
        else:
            ans = arms[r["arm"]][s] if r["arm"] in ("rrf", "item") else []
            ans = ans or arms["product_co"][s] or arms["product_cat"][s]
        out[key] = ans
    return out


def parse_items(body):
    """The items of a /recs answer as (product_id, score, reason).  HTTP
    bodies are ``{"items": [...], "took_ms": n}``; in-process answers are
    the bare items array."""
    doc = json.loads(body)
    items = doc["items"] if isinstance(doc, dict) else doc
    return [(i["product_id"], i["score"], i["reason"]) for i in items]


def recs_mismatch(record, expected):
    """Why a served request is wrong, or None when it is right."""
    if record.get("status") != 200:
        return f"status {record.get('status')}: {str(record.get('body'))[:200]}"
    try:
        got = parse_items(record["body"])
    except (ValueError, KeyError, TypeError) as e:
        return f"unreadable body ({e}): {record['body'][:200]}"
    want = expected[(record["kind"], record["id"], record["arm"])]
    if got != want:
        return f"items {got[:3]} != expected {want[:3]} (first three)"
    return None


def _hash_audit(repo_root):
    path = os.path.join(repo_root, "tools", "hash_audit.py")
    spec = importlib.util.spec_from_file_location("hash_audit", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def row_hashes(repo_root, dump_dir, rows):
    """Canonical hash of each dumped row result (None when missing)."""
    audit = _hash_audit(repo_root)
    return {r: audit.query_hash(os.path.join(dump_dir, r)) for r in rows}


def row_mismatch(name, got, pinned):
    """Why a batch row's result is wrong, or None when it is right."""
    want = pinned.get(name)
    if want is None:
        return "no pinned hash"
    if got != want:
        return f"hash {got} != pinned {want}"
    return None


def failures(result, serving, data_dir, dump_dir, pinned, repo_root):
    """(operation, reason) for every wrong operation of a harness result:
    requests answered wrongly, or whose unknown id raised when called
    in-process (``serving``), or rows that failed or whose hash differs
    from the pinned one."""
    bad = []
    if serving:
        served = result["ops"] + result.get("replay", [])
        expected = expected_recs(data_dir, served)
        # The in-process calls repeated for unknown ids, which an empty 200
        # over HTTP cannot tell from an error: a wrong probe fails every
        # request of its (kind, id, arm).
        probed = {}
        for p in result.get("probes", []):
            why = recs_mismatch(p, expected)
            if why:
                probed[(p["kind"], p["id"], p["arm"])] = "in-process call: " + why
        for op in served:
            why = (recs_mismatch(op, expected)
                   or probed.get((op["kind"], op["id"], op["arm"])))
            if why:
                bad.append((f"request {op['i']} {op['kind']}={op['id']} "
                            f"arm={op['arm']}", why))
        return bad
    got = row_hashes(repo_root, dump_dir,
                     [op["name"] for op in result["ops"] if op["ok"]])
    for op in result["ops"]:
        why = op["error"] if not op["ok"] else \
            row_mismatch(op["name"], got[op["name"]], pinned)
        if why:
            bad.append((f"row {op['name']}", why))
    return bad
