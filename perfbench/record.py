"""Rewrites expected.json: the correct output of every op.

Query ops store their row count and digest from two runs in separate
JVMs with different op orders; a query whose digest differs between
them keeps only its row count and is listed under "digest_unstable".
ELT and JDBC ops store row counts and key sums read from the parquet
sources with pyarrow (needed only here), and the partition strategy
each JDBC table is meant to take.

    python3 perfbench/run.py --record
"""
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))

ELT_KEYS = {"region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
            "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
            "lineitem": "l_orderkey", "events": "event_id", "documents": "doc_id"}
JDBC_STRATEGY = {"orders": "range", "lineitem": "julienne", "customer": "single",
                 "part": "single", "events": "single"}


def source_truth(table):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(HERE, "data", "sf0.01", f"{table}.parquet"))
    return t.num_rows, pc.sum(t.column(ELT_KEYS[table])).as_py() or 0


def main(run_once):
    out = {}
    for w in ("iterative",):
        a, b = (run_once(w, seed, 0, 0)["ops"] for seed in (1, 2))
        first = {o["name"]: o for o in a}
        ops, unstable = {}, []
        for o in b:
            x, y = first[o["name"]], o
            if x["error"] or y["error"]:
                raise SystemExit(f"perfbench: {o['name']} failed: {x['error'] or y['error']}")
            if x["observed"]["rows"] != y["observed"]["rows"]:
                raise SystemExit(f"perfbench: {o['name']} row count does not repeat")
            same = x["observed"]["digest"] == y["observed"]["digest"]
            ops[o["name"]] = {"rows": x["observed"]["rows"],
                              "digest": x["observed"]["digest"] if same else None}
            if not same:
                unstable.append(o["name"])
        out[w] = {"ops": ops, "digest_unstable": sorted(unstable)}
    elt = {}
    for t in ELT_KEYS:
        rows, keys = source_truth(t)
        elt[t] = {"rows": rows, "rows_loaded": rows, "warehouse_rows": rows, "key_sum": keys}
    out["extract"] = {"ops": dict(elt, **{
        f"jdbc:{t}": {"strategy": s, "rows": elt[t]["rows"], "key_sum": elt[t]["key_sum"]}
        for t, s in JDBC_STRATEGY.items()})}
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({w: len(v["ops"]) for w, v in out.items()}))
    return 0
