"""Op scripts for the three workloads, and the checks of their outputs.

A script is a list of passes, each a list of ops; the JVM runs passes in
order until the run's time is up. Everything here is a function of the
seed. `check_*` return the set of op indices whose output was wrong and
a list of messages.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAX_PASSES = 40

# Registered queries per workload. query_mix: web-app analytics and one
# query per curation family but graph, a pass of about seven seconds (the
# queries of the full mix left out, and why: README.md); scan_x10:
# relational shapes whose cost is execution, over the 10x fact scale-up.
QUERY_MIX = [
    "q01_flagship", "q29_revenue_delta", "q33_promo_revenue",
    "q_agg_sum", "q_agg_freq", "q_agg_argmin",
    "q_join_semi", "q_join_anti", "q_join_left_dim",
    "q_dedup_minhash", "q_ann_ivf", "q_nn_grid", "q_text_bpe_encode",
]
SCAN_X10 = ["q01_flagship", "q09_shipping_priority", "q_agg_sum"]

FAMILIES = {"dedup": ("q_dedup_",), "ann": ("q_ann_",), "nn": ("q_nn_",),
            "text": ("q_text_",)}


def family(name):
    for fam, prefixes in FAMILIES.items():
        if name.startswith(prefixes):
            return fam
    return None


def query_script(seed, names):
    rng = np.random.default_rng([seed, 1])
    return [[{"op": "query", "name": names[i]} for i in rng.permutation(len(names))]
            for _ in range(MAX_PASSES)]


# ── lakehouse ──────────────────────────────────────────────────────────
# Row values are closed forms of (key, salt); Lakehouse.scala computes
# the same ones in Spark.
CUSTOMERS, SEGMENTS = 5000, 10
SEG_WIDTH = CUSTOMERS // SEGMENTS
APPEND_ROWS, MERGE_ROWS, DELETE_ROWS = 2000, 1000, 300
PAY_ROWS, PAY_DELETE_ROWS, EVENT_ROWS = 500, 60, 400
HISTORY_APPENDS = 12
# Three appends and three time-travel reads a pass: time travel reaches
# back over more `sales` versions, and 9 of the 19 ops take 0.2-0.3 s, so
# the median op (sample 29 of 57 over three passes) falls inside that
# group; with one of each, it fell on `maintain`'s samples alone, whose
# cost moves with the sink's small files.
WRITES = ["append", "pay_commit", "merge", "append", "delete", "ingest",
          "append", "pay_delete", "maintain"]
READS = ["sales_agg", "sales_asof", "star", "sales_asof", "changes", "pay_asof",
         "sales_asof", "events_agg", "sales_meta", "pay_meta"]
READ_OPS = set(READS)


def sales_row(k, seg, salt):
    return (seg * SEG_WIDTH + (k * 7 + salt) % SEG_WIDTH, (k * 13 + salt) % 365,
            (k * 7919 + salt * 104729) % 100000, (k * 31 + salt) % 50 + 1)


def pay_amount(p, salt):
    return (p * 104723 + salt * 7919) % 50000


def rate_sum(salt):
    return sum((s * 37 + salt) % 1000 for s in range(SEGMENTS))


def lakehouse_script(seed, pool_dir):
    """(history ops, passes). The history runs once after the set-up
    rounds. Also writes one staged event file per ingest into
    `pool_dir`."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(pool_dir, exist_ok=True)
    state = {"key": 0, "pay": 1, "salt": 1, "event": 0, "file": 0}

    def salt():
        state["salt"] += 1
        return state["salt"]

    def append():
        lo = state["key"]
        state["key"] += APPEND_ROWS
        return {"op": "append", "lo": lo, "n": APPEND_ROWS,
                "seg": int(rng.integers(SEGMENTS)), "salt": salt()}

    def ingest():
        name = f"ev_{state['file']:04d}.parquet"
        state["file"] += 1
        lo = state["event"]
        state["event"] += EVENT_ROWS
        ids = np.arange(lo, lo + EVENT_ROWS, dtype=np.int64)
        ts = np.datetime64("2024-01-01", "us").astype(np.int64) + ids * 1_000_000
        pq.write_table(pa.table({
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, EVENT_ROWS),
            "event_type": pa.array(rng.choice(["click", "purchase", "view"], EVENT_ROWS)),
            "value": np.round(rng.exponential(50.0, EVENT_ROWS), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENT_ROWS)]),
        }), os.path.join(pool_dir, name))
        return {"op": "ingest", "file": name}

    def write(kind):
        if kind == "append":
            return append()
        if kind == "ingest":
            return ingest()
        if kind == "merge":
            lo = int(rng.integers(0, state["key"] - MERGE_ROWS))
            return {"op": "merge", "lo": lo, "n": MERGE_ROWS,
                    "seg": int(rng.integers(SEGMENTS)), "salt": salt()}
        if kind == "delete":
            lo = int(rng.integers(0, state["key"] - DELETE_ROWS))
            return {"op": "delete", "lo": lo, "hi": lo + DELETE_ROWS - 1}
        if kind == "pay_commit":
            lo = state["pay"]
            state["pay"] += PAY_ROWS
            return {"op": "pay_commit", "lo": lo, "n": PAY_ROWS, "salt": salt()}
        if kind == "pay_delete":
            lo = int(rng.integers(1, state["pay"] - PAY_DELETE_ROWS))
            return {"op": "pay_delete", "lo": lo, "hi": lo + PAY_DELETE_ROWS - 1}
        return {"op": kind}

    def read(kind):
        op = {"op": kind}
        if kind == "sales_asof":
            op["pick"] = float(rng.random())
        elif kind == "star":
            op["seg"] = int(rng.integers(SEGMENTS))
        return op

    history = [append() for _ in range(HISTORY_APPENDS)] + [ingest()]
    passes = []
    for _ in range(MAX_PASSES):
        ops = [write(w) for w in WRITES]
        for r in READS:
            ops.insert(int(rng.integers(1, len(ops) + 1)), read(r))
        passes.append(ops)
    return history, passes


def check_lakehouse(plan, raw):
    """Replay the script against a model and compare every read."""
    facts = raw["workload"]
    records = list(facts["history"])
    plan_ops = [None] + plan["history"]  # None: the catalog's first commit
    runs = raw["warm"] + raw["passes"]
    for p in runs:
        for j, o in enumerate(p["ops"]):
            records.append(o)
            plan_ops.append(plan["passes"][o["pass"]][j])
    sales, by_version, changes = {}, {}, {}
    pays, pay_by_txn = {0: pay_amount(0, 0)}, {}
    rates = rate_sum(0)
    events = [0, 0]
    wrong, msgs = set(), []
    pool = plan["events_pool"]

    def agg():
        vals = list(sales.values())
        return {"count": len(vals), "amount": sum(v[2] for v in vals),
                "qty": sum(v[3] for v in vals)}

    def note_change(rec, diff):
        if rec.get("version", 0) > rec.get("before", rec.get("version", 0)):
            changes[rec["version"]] = diff
        if "version" in rec:
            by_version[rec["version"]] = agg()

    def expect(rec, got, want, what):
        if got != want:
            wrong.add(rec.get("i", -1))
            msgs.append(f"op {rec.get('i')} {rec['op']}: {what} {got} != {want}")

    for rec, op in zip(records, plan_ops):
        kind = rec["op"]
        if not rec.get("ok", True):
            wrong.add(rec.get("i", -1))
            msgs.append(f"op {rec.get('i')} {kind} failed: {rec.get('error')}")
            continue
        if kind == "catalog_init":
            pay_by_txn[rec["txn"]] = (1, pays[0], rates)
        elif kind in ("append", "merge"):
            diff = {}
            for k in range(op["lo"], op["lo"] + op["n"]):
                row = sales_row(k, op["seg"], op["salt"])
                change = "insert" if k not in sales else "update"
                c = diff.setdefault(change, [0, 0])
                c[0] += 1
                c[1] += row[2]
                sales[k] = row
            note_change(rec, diff)
        elif kind == "delete":
            diff = {}
            for k in range(op["lo"], op["hi"] + 1):
                if k in sales:
                    c = diff.setdefault("delete", [0, 0])
                    c[0] += 1
                    c[1] += sales.pop(k)[2]
            note_change(rec, diff)
        elif kind == "maintain":
            note_change(rec, {})
        elif kind == "pay_commit":
            for p in range(op["lo"], op["lo"] + op["n"]):
                pays[p] = pay_amount(p, op["salt"])
            rates = rate_sum(op["salt"])
            pay_by_txn[rec["txn"]] = (len(pays), sum(pays.values()), rates)
        elif kind == "pay_delete":
            doomed = [p for p in range(op["lo"], op["hi"] + 1) if p in pays]
            expect(rec, rec["marked"], len(doomed), "rows marked")
            for p in doomed:
                del pays[p]
            pay_by_txn[rec["txn"]] = (len(pays), sum(pays.values()), rates)
        elif kind == "ingest":
            t = pq.read_table(os.path.join(pool, op["file"]))
            events[0] += t.num_rows
            events[1] += int(np.round(t["value"].to_numpy() * 100).sum())
        elif kind in ("sales_agg", "sales_asof"):
            got = {k: rec[k] for k in ("count", "amount", "qty")}
            expect(rec, got, by_version.get(rec["version"]), f"v{rec['version']}")
        elif kind == "sales_meta":
            expect(rec, rec["count"], len(sales), "row count")
        elif kind == "pay_meta":
            expect(rec, rec["count"], pay_by_txn[rec["txn"]][0], "row count")
        elif kind == "star":
            lo = op["seg"] * SEG_WIDTH
            groups = {}
            for cust, _, amount, _ in sales.values():
                if lo <= cust < lo + SEG_WIDTH:
                    g = groups.setdefault(cust % 5, [0, 0])
                    g[0] += 1
                    g[1] += amount
            want = [[r, c, a] for r, (c, a) in sorted(groups.items())]
            expect(rec, rec["groups"], want, "star groups")
        elif kind == "changes":
            want = {}
            for v, diff in changes.items():
                if rec["from"] < v <= rec["to"]:
                    for change, (c, a) in diff.items():
                        w = want.setdefault(change, [0, 0])
                        w[0] += c
                        w[1] += a
            expect(rec, rec["changes"], want, f"changes ({rec['from']},{rec['to']}]")
        elif kind == "pay_asof":
            got = (rec["count"], rec["amount"], rec["rate_sum"])
            expect(rec, got, pay_by_txn.get(rec["txn"]), f"t{rec['txn']}")
        elif kind == "events_agg":
            expect(rec, [rec["count"], rec["value_cents"]], events, "events")
    return wrong, msgs


def check_queries(plan, raw):
    """Compare each query's last result against its DuckDB oracle over the
    same parquet, and every other run of it against that result's digest."""
    import duckdb
    sys.path.insert(0, "tools")
    from oracle_check import canon  # the oracle compare's canonicalization
    import pandas as pd

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{plan['data']}/{t}.parquet')")
    wrong, msgs, digests, bad = set(), [], {}, set()
    for res in raw["workload"]["results"]:
        name = res["name"]
        digests[name] = res["digest"]
        try:
            got = canon(pd.read_parquet(res["path"]))
            want = canon(con.sql(res["oracle"]).df())
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except Exception as e:  # noqa: BLE001 — any mismatch or error fails the query
            bad.add(name)
            msgs.append(f"{name}: oracle mismatch: {str(e).splitlines()[0][:200]}")
    runs = raw["warm"] + raw["passes"]
    for p in runs:
        for o in p["ops"]:
            if not o["ok"]:
                wrong.add(o["i"])
                msgs.append(f"op {o['i']} {o.get('name')} failed: {o.get('error')}")
            elif o["name"] in bad or o["digest"] != digests.get(o["name"]):
                wrong.add(o["i"])
    return wrong, msgs
