"""Seeded plans for the two user flows.

A plan is what the JVM side runs: the tables to list at set-up, the
warm-up ops (one cold pass) and the timed passes. Every op is a JSON
spec that perfbench/src/.../Ops.scala turns into graft calls. A
ContextualFilter request also carries its DuckDB SQL, rendered here from
the same tree; the other ops take their SQL from graft's own oracle
(SparkEntry.oracleSql) with the request's parameters substituted.

Only the seed varies a plan: the same seed gives the same plan, and
`self_check` proves that on every run.
"""
import datetime
import json
import random

# ---- otu_session: bpaotu requests -----------------------------------------

# One session of a single user: a fixed mix, in seeded order with seeded
# literals. The kinds are the bpaotu requests graft re-expresses; the
# counts (and the 15% NOT rate in filter trees) are this benchmark's
# choice, not taken from recorded bpaotu traffic: filters, the request a
# user edits most, come most often. The mix is fixed so two seeds do the
# same kind of work and differ only in which plans they mint; the fixed
# rollups take no literals and repeat one plan each. The session and its
# rollups are sized so a run fits the benchmark's time budget on a
# loaded machine.
ROLLUPS = ["q5_taxonomy_rollup", "q7_abundance_matrix", "q13_diversity"]
SESSION_MIX = [("filter", 6), ("q28", 3), ("q35", 2), ("q32", 2)] + [(k, 1) for k in ROLLUPS]
SESSIONS = 80          # far more than any timed phase serves
OTU_TABLES = ["orders", "customer", "lineitem", "part", "nation", "region"]

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
GROUP_KEYS = ["c_mktsegment", "o_orderpriority", "o_orderstatus", "c_nationkey"]
FIELD_TYPE = {"o_totalprice": "double", "c_acctbal": "double",
              "o_orderdate": "ts", "c_nationkey": "int", "o_orderstatus": "str",
              "o_orderpriority": "str", "c_mktsegment": "str", "c_name": "str"}


def _date(rng, lo_day=0, span=2400):
    """A seeded day in the orders' date range (1995-01-01 on)."""
    return (datetime.date(1995, 1, 1)
            + datetime.timedelta(days=lo_day + rng.randrange(span))).isoformat()


def _leaf(rng):
    kind = rng.randrange(9)
    if kind == 0:
        return {"cmp": ["o_totalprice", rng.choice(["<", ">", "<=", ">="]),
                        round(rng.uniform(1000, 500000), 2)]}
    if kind == 1:
        lo = round(rng.uniform(1000, 400000), 2)
        return {"between": ["o_totalprice", lo, round(lo + rng.uniform(10000, 200000), 2)]}
    if kind == 2:
        return {"cmp": ["c_acctbal", rng.choice(["<", ">"]), round(rng.uniform(-999, 9999), 2)]}
    if kind == 3:
        return {"in": ["o_orderpriority", sorted(rng.sample(PRIORITIES, rng.randint(1, 3)))]}
    if kind == 4:
        return {"cmp": ["o_orderstatus", rng.choice(["=", "!="]), rng.choice("FOP")]}
    if kind == 5:
        return {"in": ["c_mktsegment", sorted(rng.sample(SEGMENTS, rng.randint(1, 3)))]}
    if kind == 6:
        return {"in": ["c_nationkey", sorted(rng.sample(range(25), rng.randint(1, 6)))]}
    if kind == 7:
        lo = _date(rng, 0, 2000)
        return {"between": ["o_orderdate", f"{lo} 00:00:00",
                            f"{_date(rng, 2000, 400)} 00:00:00"]}
    return {"contains": ["c_name", f"{rng.randrange(100):02d}"]}


def _tree(rng, depth):
    """A random AND/OR/NOT tree of the given depth (1 = a single leaf)."""
    if depth <= 1:
        node = _leaf(rng)
    else:
        node = {rng.choice(["and", "or"]):
                [_tree(rng, rng.randint(1, depth - 1)) for _ in range(rng.randint(2, 3))]}
    return {"not": node} if rng.random() < 0.15 else node


def _lit(field, v):
    t = FIELD_TYPE[field]
    if t == "double":
        return f"CAST('{v!r}' AS DOUBLE)"
    if t == "int":
        return str(int(v))
    if t == "ts":
        return f"TIMESTAMP '{v}'"
    return "'" + str(v).replace("'", "''") + "'"


def tree_sql(node):
    """The WHERE clause equal to ContextualFilter.compile(node)."""
    (op, a), = node.items()
    if op in ("and", "or"):
        return "(" + f" {op.upper()} ".join(tree_sql(x) for x in a) + ")"
    if op == "not":
        return f"(NOT {tree_sql(a)})"
    if op == "cmp":
        f, cmp, v = a
        return f"{f} {'<>' if cmp == '!=' else cmp} {_lit(f, v)}"
    if op == "in":
        return f"{a[0]} IN ({', '.join(_lit(a[0], v) for v in a[1])})"
    if op == "between":
        return f"{a[0]} BETWEEN {_lit(a[0], a[1])} AND {_lit(a[0], a[2])}"
    if op == "contains":
        return f"contains({a[0]}, {_lit(a[0], a[1])})"
    raise ValueError(op)


def filter_sql(tree, group):
    return (f"SELECT {group}, count(*) AS n_orders, "
            f"CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price "
            f"FROM orders JOIN customer ON o_custkey = c_custkey "
            f"WHERE {tree_sql(tree)} GROUP BY {group} ORDER BY {group}")


def request(rng, kind):
    if kind == "filter":
        tree, group = _tree(rng, rng.randint(1, 3)), rng.choice(GROUP_KEYS)
        return {"kind": "filter", "name": "filter", "tree": tree, "group": group,
                "sql": filter_sql(tree, group)}
    if kind == "q28":
        return {"kind": "q28", "name": "q28_keyset", "after_date": _date(rng),
                "after_key": rng.randrange(150000), "limit": rng.choice([20, 50, 100])}
    if kind == "q35":
        return {"kind": "q35", "name": "q35_histogram",
                "width": float(2500 * rng.randint(2, 40))}
    if kind == "q32":
        return {"kind": "q32", "name": "q32_taxonomy_browse",
                "mfgr": rng.randrange(3), "ptype": rng.choice(PART_TYPES)}
    return {"kind": "registry", "name": kind, "key": kind}


def otu_session(rng):
    # The cold pass runs each kind of request once. A whole session would
    # settle the JIT further (the first timed session runs 10-20% slower
    # than the next) but costs ~10 s more per run than the budget allows.
    warm = [request(rng, k) for k in ["filter", "filter", "q28", "q35", "q32"] + ROLLUPS]
    passes = []
    for _ in range(SESSIONS):
        kinds = [k for k, n in SESSION_MIX for _ in range(n)]
        rng.shuffle(kinds)
        passes.append([request(rng, k) for k in kinds])
    return OTU_TABLES, warm, passes


# ---- corpus_pipeline: registry steps ---------------------------------------

CORPUS_TABLES = ["documents", "orders"]
# d14/d15 run on a seeded source. DuckDB takes ~8 s per source for
# their oracles, answered once per checkout, so the choice stays small.
SEEDED_SOURCES = ["src0", "src1"]
CORPUS_PASSES = 20


def corpus_groups(decontam, incremental):
    """The pipeline steps between ingest and export, in groups that
    stay together: keep-best ranks the dedup decision just before it."""
    return [
        [{"kind": "registry", "name": "t2_quality_score", "key": "t2_quality_score"}],
        [{"kind": "registry", "name": "t22_gopher_rules", "key": "t22_gopher_rules"}],
        [{"kind": "dedup", "name": "d7_dedup_pipeline"},
         {"kind": "keep_best", "name": "d9_keep_best"}],
        [{"kind": "decontaminate", "name": "d14_bloom_decontaminate", "source": decontam}],
        [{"kind": "incremental", "name": "d15_incremental_dedup", "source": incremental}]]


INGEST = {"kind": "ingest", "name": "x14_csv_quarantine"}
EXPORT = {"kind": "export", "name": "x6_export_jsonl"}


def corpus_pipeline(rng):
    decontam, incremental = rng.choice(SEEDED_SOURCES), rng.choice(SEEDED_SOURCES)

    def one_pass():
        # ingest first and export last, the steps between in seeded order
        middle = corpus_groups(decontam, incremental)
        rng.shuffle(middle)
        return [INGEST] + [op for group in middle for op in group] + [EXPORT]
    return CORPUS_TABLES, one_pass(), [one_pass() for _ in range(CORPUS_PASSES)]


def fixed_ops():
    """The ops whose DuckDB answer does not depend on the seed beyond
    SEEDED_SOURCES. The build answers them ahead: every run but the first
    in a checkout must end within 180 s, and a first corpus_pipeline run
    would otherwise spend ~60 s of that in DuckDB (d7 and d9 take ~25 s
    each) on top of its own ~50 s."""
    ops = [request(None, k) for k in ROLLUPS] + [INGEST, EXPORT]
    for src in SEEDED_SOURCES:
        ops += [op for group in corpus_groups(src, src) for op in group]
    return list({json.dumps(op, sort_keys=True): op for op in ops}.values())


WORKLOADS = {"otu_session": otu_session, "corpus_pipeline": corpus_pipeline}


def plan(workload, seed):
    """The plan of one run. Ops get ids unique in the run and a `check`
    key: ops with equal keys must return equal rows."""
    rng = random.Random(f"{workload}:{seed}")
    tables, warm, passes = WORKLOADS[workload](rng)

    def tag(op, op_id):
        op = dict(op)
        op["check"] = json.dumps(op, sort_keys=True)
        op["id"] = op_id
        return op
    return {"tables": tables,
            "warmup": [tag(op, f"w.{i}") for i, op in enumerate(warm)],
            "passes": [[tag(op, f"{p}.{i}") for i, op in enumerate(ops)]
                       for p, ops in enumerate(passes)]}


def self_check(workload, seed):
    """The same seed gives an identical plan; another seed a different one."""
    a, b, c = plan(workload, seed), plan(workload, seed), plan(workload, seed + 1)
    if json.dumps(a) != json.dumps(b):
        raise AssertionError(f"{workload}: seed {seed} gave two different plans")
    if json.dumps(a) == json.dumps(c):
        raise AssertionError(f"{workload}: seeds {seed} and {seed + 1} gave one plan")
    return a
