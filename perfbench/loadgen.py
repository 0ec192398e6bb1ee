"""Seeded request generation for the interactive workload, and the oracle
SQL of every op kind.

Reads use the anchor labels, directions and depths of the registry query
they mirror. Half of the anchors are drawn uniformly, half from the
top-degree decile of their label; no anchor is drawn twice in a run, so no
request can be answered from a memo that an earlier request filled.
Seven requests in twenty are writes, applied to the base graph and then
read back through the same frontend.
"""
import json
import os
import random
import re

import oracle

# op -> (registry query whose shape it mirrors, api, anchor label)
READS = {
    "kneighbor": ("q_kneighbor", "traverse", "customer"),
    "kout_nearest": ("q_kout_nearest", "traverse", "customer"),
    "shortest_path": ("q_shortest_path", "traverse", "customer"),
    "same_neighbors": ("q_same_neighbors", "traverse", "order"),
    "jaccard": ("q_jaccard_similarity", "traverse", "order"),
    "personal_rank": ("q_personal_rank", "traverse", "order"),
    "rings": ("q_rings", "traverse", "customer"),
    "all_shortest_paths": ("q_all_shortest_paths", "traverse", "customer"),
    "weighted_sssp": ("q_weighted_sssp", "traverse", "customer"),
    "cypher_shortestpath": ("q_cypher_shortestpath", "cypher", "customer"),
    "cypher_allshortest": ("q_cypher_allshortest", "cypher", "customer"),
    "gremlin_repeat": ("q_gremlin_repeat", "gremlin", "customer"),
    "gremlin_repeat_emit": ("q_gremlin_repeat_emit", "gremlin", "customer"),
}
# write op -> api, in request order
WRITES = {
    "cypher_create": "cypher", "gremlin_addv": "gremlin", "cypher_set": "cypher",
    "gremlin_property_update": "gremlin", "cypher_merge": "cypher",
    "gremlin_adde": "gremlin", "cypher_delete": "cypher",
}

# registry literal -> request parameter, per read op
SUBS = {
    "kneighbor": [("'customer:1'", "a")],
    "kout_nearest": [("'customer:1'", "a")],
    "shortest_path": [("'customer:1'", "a"), ("'supplier:3'", "b")],
    "same_neighbors": [(r"l_orderkey = 3\b", "a_key"), (r"l_orderkey = 6771\b", "b_key")],
    "jaccard": [(r"l_orderkey = 3\b", "a_key"), (r"l_orderkey = 6771\b", "b_key")],
    "personal_rank": [("'order:42'", "a")],
    "rings": [("'customer:130'", "a")],
    "all_shortest_paths": [("'customer:1'", "a"), ("'supplier:3'", "b")],
    "weighted_sssp": [("'customer:1'", "a")],
    "cypher_shortestpath": [("'customer:1'", "a")],
    "cypher_allshortest": [("'Customer#000000001'", "name")],
    "gremlin_repeat": [("'customer:1'", "a")],
    "gremlin_repeat_emit": [("'customer:1'", "a")],
}


def pools(data_dir):
    """Anchor pools per label: every id, and the top-degree decile."""
    path = os.path.join(data_dir, "pools.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = oracle.connect(data_dir)
    degree = {
        "customer": "SELECT c_custkey k, count(o_orderkey) d FROM customer "
                    "LEFT JOIN orders ON o_custkey = c_custkey GROUP BY 1",
        "order": "SELECT o_orderkey k, count(l_orderkey) d FROM orders "
                 "LEFT JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1",
        "supplier": "SELECT s_suppkey k, count(l_suppkey) d FROM supplier "
                    "LEFT JOIN lineitem ON l_suppkey = s_suppkey GROUP BY 1",
        "part": "SELECT p_partkey k, count(l_partkey) d FROM part "
                "LEFT JOIN lineitem ON l_partkey = p_partkey GROUP BY 1",
    }
    out = {}
    for label, sql in degree.items():
        rows = con.execute(f"SELECT k, d FROM ({sql}) ORDER BY d DESC, k").fetchall()
        keys = [int(k) for k, _ in rows]
        out[label] = {"all": sorted(keys), "top": keys[:max(1, len(keys) // 10)]}
    out["supplier_nation"] = {
        str(k): n for k, n in con.execute(
            "SELECT s_suppkey, n_name FROM supplier JOIN nation "
            "ON n_nationkey = s_nationkey").fetchall()}
    con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


class Anchors:
    """Draws anchors without replacement, uniformly or from the top-degree
    decile of their label (uniformly once that decile is used up)."""

    def __init__(self, rng, pools):
        self.rng, self.pools, self.used = rng, pools, set()

    def draw(self, label, top=False):
        p = self.pools[label]
        for source in ([p["top"], p["all"]] if top else [p["all"]]):
            for k in self.rng.sample(source, min(len(source), 64)):
                if (label, k) not in self.used:
                    self.used.add((label, k))
                    return k
        k = self.rng.choice([k for k in p["all"] if (label, k) not in self.used])
        self.used.add((label, k))
        return k


def _read(op, top, anchors, rng, pools):
    label = READS[op][2]
    a = anchors.draw(label, top)
    p = {"a": f"{label}:{a}", "top_decile": top}
    if label == "customer":
        p["name"] = f"Customer#{a:09d}"
    if op in ("same_neighbors", "jaccard"):
        b = anchors.draw("order", top)
        p.update(a_key=a, b="order:%d" % b, b_key=b)
    if op in ("shortest_path", "all_shortest_paths"):
        p["b"] = "supplier:%d" % rng.choice(pools["supplier"]["all"])
    return p


def _write(op, k, seed, anchors, rng, pools):
    tag = f"PB{seed}X{k}"
    if op in ("cypher_create", "gremlin_addv"):
        return {"id": f"customer:{90000000 + k}", "name": f"{tag}N",
                "bal": round(rng.uniform(-999.0, 9999.0), 2), "seg": f"{tag}S"}
    if op == "cypher_merge":
        return {"id": f"customer:{90000000 + k}", "name": f"{tag}N", "seg": f"{tag}S"}
    if op in ("cypher_set", "gremlin_property_update"):
        c = anchors.draw("customer")
        return {"name": f"Customer#{c:09d}", "seg": f"{tag}S"}
    if op == "cypher_delete":
        s = anchors.draw("supplier")
        return {"name": f"Supplier#{s:09d}", "nation": pools["supplier_nation"][str(s)]}
    if op == "gremlin_adde":
        part = anchors.draw("part")
        return {"a": f"part:{part}", "a_key": part,
                "b": "supplier:%d" % rng.choice(pools["supplier"]["all"]),
                "qty": rng.randint(1, 50)}
    raise ValueError(op)


def generate(seed, pools, cycles, reads=tuple(sorted(READS))):
    """The seeded request list, in cycles. A cycle holds every read op and
    every write op once, always in the same order, so that every run meets
    the same mix and the same cold code paths whatever the seed; the seed
    draws the anchors and values. Which read ops get a top-decile anchor
    alternates from cycle to cycle. `reads` selects the read ops of a
    cycle."""
    rng = random.Random(seed)
    anchors = Anchors(rng, pools)
    out, k = [], 0
    for c in range(cycles):
        rs = [("read", op, (i + c) % 2 == 1) for i, op in enumerate(reads)]
        cycle, done = [], 0
        for j, w in enumerate(WRITES):  # writes spread evenly among the reads
            upto = (j + 1) * len(rs) // (len(WRITES) + 1)
            cycle += rs[done:upto] + [("write", w, False)]
            done = upto
        cycle += rs[done:]
        for kind, op, top in cycle:
            r = {"id": f"c{c:02d}.{kind[0]}{k:04d}", "op": op, "kind": kind, "cycle": c}
            if kind == "read":
                reg, api, _ = READS[op]
                r.update(api=api, registry=reg, params=_read(op, top, anchors, rng, pools))
            else:
                r.update(api=WRITES[op], params=_write(op, k, seed, anchors, rng, pools))
            out.append(r)
            k += 1
    return out


def _q(s):
    assert "'" not in str(s)
    return f"'{s}'"


def oracle_sql(op, raw):
    """(oracle SQL, cacheable) of one op of a raw run."""
    p = op["params"]
    if op["api"] == "registry":
        return raw["oracle_sql"].get(op["registry"]), True
    if op["kind"] == "read":
        sql = raw["oracle_sql"].get(op["registry"])
        if sql is None:
            return None, False
        for pat, key in SUBS[op["op"]]:
            val = p[key]
            rep = f"l_orderkey = {val}" if key.endswith("_key") else _q(val)
            if not re.search(pat if key.endswith("_key") else re.escape(pat), sql):
                return None, False  # the registry's shape changed
            sql = (re.sub(pat, rep, sql) if key.endswith("_key")
                   else sql.replace(pat, rep))
        return sql, False
    o = op["op"]
    if o == "cypher_create":
        return f"SELECT {_q(p['name'])} AS name, CAST({p['bal']} AS DOUBLE) AS bal", False
    if o == "gremlin_addv":
        return f"SELECT {_q(p['name'])} AS name, CAST({p['bal']} AS DOUBLE) AS acctbal", False
    if o in ("cypher_merge", "cypher_set"):
        return f"SELECT {_q(p['name'])} AS name", False
    if o == "gremlin_property_update":
        return (f"SELECT c_name AS name, c_acctbal AS acctbal FROM customer "
                f"WHERE c_name = {_q(p['name'])}"), False
    if o == "cypher_delete":
        return (f"SELECT CAST(count(*) AS BIGINT) AS n_sup FROM supplier s JOIN nation n "
                f"ON n.n_nationkey = s.s_nationkey WHERE n.n_name = {_q(p['nation'])} "
                f"AND s.s_name <> {_q(p['name'])}"), False
    if o == "gremlin_adde":
        return (f"SELECT l_quantity AS quantity FROM lineitem WHERE l_partkey = {p['a_key']} "
                f"UNION ALL SELECT CAST({p['qty']} AS DOUBLE)"), False
    return None, False
