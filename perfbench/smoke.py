"""Smoke test of the benchmark's input generators, at tiny sizes.

Checks, for every workload:
  1. the same seed gives identical inputs, a different seed different ones;
  2. the planted ground truth equals an independent recount of the files
     (read here with pyarrow, recounted in Python);
  3. dq_gate run ids sort in run order (drift baselines use max(run_id)).

Run from the repository root:  python3 perfbench/smoke.py
"""

import json
import math
import re
import shutil
import subprocess
import sys
from collections import Counter, defaultdict
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
from run import ADD_OPENS  # noqa: E402

UNITS = {"dq_gate": 12, "curate": 3, "stream_gate": 6}
FAILS = []


def check(cond, msg):
    if not cond:
        FAILS.append(msg)


def generate(root, cp, workload, seed, out):
    cmd = (["java", "-Xmx1g", "-XX:-UsePerfData"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--generate", str(out), "--units", str(UNITS[workload])])
    subprocess.run(cmd, cwd=root, check=True, stdout=subprocess.DEVNULL)


def snapshot(d):
    """Every table's rows plus the truth file, keyed by relative path."""
    snap = {"truth": (d / "truth.jsonl").read_text()}
    for f in sorted(d.rglob("*.parquet")):
        if f.is_file():
            snap[str(f.relative_to(d))] = pq.read_table(f).to_pylist()
    return snap


def read(path):
    return pq.read_table(path).to_pylist()


def truth_lines(d):
    return [json.loads(x) for x in (d / "truth.jsonl").read_text().splitlines() if x]


# ----------------------------------------------------------------- dq_gate

def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def recount_day(d, prev_orders):
    o = read(d / "orders.parquet")
    c = read(d / "customer.parquet")
    li = read(d / "lineitem.parquet")
    n = lambda rows, f: sum(1 for r in rows if f(r))  # noqa: E731
    got = {}

    def cnt(name, k):
        got[name] = ("PASSED" if k == 0 else "FAILED", k)

    def verdict(name, ok):
        got[name] = ("PASSED", 0) if ok else ("FAILED", 1)

    pr = re.compile(r"^[1-5]-[A-Z ]+$")
    verdict("orders.row_count_between", len(o) >= 1)
    cnt("orders.not_null:o_custkey", n(o, lambda r: r["o_custkey"] is None))
    cnt("orders.in_set:o_orderstatus", n(o, lambda r: r["o_orderstatus"] not in ("O", "F", "P")))
    cnt("orders.regex:o_orderpriority", n(o, lambda r: not pr.search(r["o_orderpriority"])))
    bad = n(o, lambda r: not 0.0 <= r["o_totalprice"] <= 300000.0)
    got["orders.between:o_totalprice"] = ("PASSED" if bad / len(o) <= 0.5 else "FAILED", bad)
    cond = "orders.between:o_totalprice:where:o_orderstatus = 'F'"
    cnt(cond, n(o, lambda r: r["o_orderstatus"] == "F" and r["o_totalprice"] < 0))
    keys = [r["c_custkey"] for r in c]
    cnt("customer.not_null:c_custkey", keys.count(None))
    verdict("customer.proportion_unique:c_custkey", 0.99 <= len(set(keys)) / len(keys) <= 1.0)
    segs = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD")
    cnt("customer.in_set:c_mktsegment", n(c, lambda r: r["c_mktsegment"] not in segs))
    cnt("customer.between:c_acctbal", n(c, lambda r: not -1000.0 <= r["c_acctbal"] <= 10000.0))
    cnt("customer.value_length:c_name", n(c, lambda r: not 5 <= len(r["c_name"]) <= 30))
    distinct = len({r["c_mktsegment"] for r in c})
    verdict("customer.distinct_count:c_mktsegment", 1 <= distinct <= 10)
    verdict("customer.distinct_count_approx:c_mktsegment", 1 <= distinct <= 10)
    bal = [r["c_acctbal"] for r in c]
    verdict("customer.quantile_approx:c_acctbal:0.5", 1000 <= quantile(bal, 0.5) <= 8000)
    verdict("customer.agg_bounds:mean:c_acctbal", 1000 <= sum(bal) / len(bal) <= 8000)
    verdict("customer.quantile:c_acctbal:0.5", 1000 <= quantile(bal, 0.5) <= 8000)
    verdict("customer.quantile:c_acctbal:0.95", quantile(bal, 0.95) >= 9000)
    cnt("lineitem.pair_greater:l_extendedprice>l_quantity",
        n(li, lambda r: r["l_extendedprice"] <= r["l_quantity"]))
    cnt("lineitem.between:l_discount", n(li, lambda r: not 0.0 <= r["l_discount"] <= 0.1))
    core = dict(got)

    drift = {k: core[k] for k in ("orders.row_count_between", cond)}
    if prev_orders is not None:
        pct = abs(len(o) - prev_orders) / prev_orders * 100.0
        drift["orders.row_count_drift:10.0pct"] = ("PASSED", 0) if pct <= 10.0 else ("FAILED", 1)

    got = {}
    dup_rows = lambda ks: sum(v for v in Counter(ks).values() if v > 1)  # noqa: E731
    cnt("lineitem.unique:l_orderkey,l_linenumber",
        dup_rows([(r["l_orderkey"], r["l_linenumber"]) for r in li]))
    qty = [r["l_quantity"] for r in li]
    verdict("lineitem.quantile:l_quantity:0.5", 10 <= quantile(qty, 0.5) <= 40)
    cnt("lineitem.between:l_quantity", n(li, lambda r: not 1 <= r["l_quantity"] <= 50))
    cnt("lineitem.in_set:l_returnflag", n(li, lambda r: r["l_returnflag"] not in "ANR"))
    cnt("lineitem.in_set:l_linestatus", n(li, lambda r: r["l_linestatus"] not in "OF"))
    cnt("lineitem.pair_greater:l_quantity>l_discount",
        n(li, lambda r: r["l_quantity"] <= r["l_discount"]))
    cnt("lineitem.not_null:l_shipdate", n(li, lambda r: r["l_shipdate"] is None))
    cnt("orders.unique:o_orderkey", dup_rows([r["o_orderkey"] for r in o]))
    cnt("customer.regex:c_name", n(c, lambda r: not re.search(r"^Customer#[0-9]{9}$", r["c_name"])))
    cnt("customer.in_set:c_nationkey", n(c, lambda r: not 0 <= r["c_nationkey"] <= 24))
    verdict("customer.quantile:c_acctbal:0.25", 0 <= quantile(bal, 0.25) <= 4000)
    verdict("customer.quantile:c_acctbal:0.75", 5000 <= quantile(bal, 0.75) <= 9000)
    return {"core": core, "drift": drift, "wide": got}, len(o)


def smoke_dq(d):
    days = truth_lines(d)
    ids = [t["run_id"] for t in days]
    check(ids == sorted(ids) and len(set(ids)) == len(ids), f"dq_gate: run ids do not sort in run order: {ids}")
    prev = None
    failing = 0
    for t in days:
        got, prev = recount_day(d / t["run_id"], prev)
        for suite, checks in got.items():
            want = {k: (v["status"], v["unexpected"]) for k, v in t["truth"][suite].items()}
            check(want == {k: (s, u) for k, (s, u) in checks.items()},
                  f"dq_gate {t['run_id']} {suite}: truth {sorted(set(want.items()) ^ set(checks.items()))}")
        failing += any(v["status"] == "FAILED" for s in ("core", "drift", "wide")
                       for v in t["truth"][s].values())
    check(0 < failing < len(days), f"dq_gate: {failing} of {len(days)} days fail a check")


# ------------------------------------------------------------------ curate

def norm(t):
    return re.sub(r"\s+", " ", t).strip().lower()


def grams(t, n):
    w = norm(t).split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def smoke_curate(d):
    bench = [json.loads(x)["text"] for x in (d / "benchmark.jsonl").read_text().splitlines() if x]
    bench_grams = [grams(b, 4) for b in bench]
    seen = set()
    for t in truth_lines(d):
        docs = sorted(read(d / f"shard-{t['shard']:06d}" / "documents.parquet"), key=lambda r: r["doc_id"])
        first = {}
        exact = hist = 0
        for r in docs:
            k = norm(r["text"])
            if k in first:
                exact += 1
            else:
                first[k] = r["doc_id"]
                hist += k in seen
        cont = sum(1 for r in docs if any(
            len(grams(r["text"], 4) & g) / len(g) >= 0.8 for g in bench_grams))
        check(exact == t["exact_dups"], f"curate shard {t['shard']}: exact dups {exact} != {t['exact_dups']}")
        check(hist == t["history_dups"], f"curate shard {t['shard']}: history dups {hist} != {t['history_dups']}")
        check(cont == t["contaminated"], f"curate shard {t['shard']}: contaminated {cont} != {t['contaminated']}")
        by_id = {r["doc_id"]: r["text"] for r in docs}
        for i in t["near_dups"]:
            g = grams(by_id[i], 3)
            best = max(len(g & grams(x, 3)) / len(g | grams(x, 3))
                       for j, x in by_id.items() if j < i)
            check(best >= 0.8, f"curate shard {t['shard']}: near-dup {i} has Jaccard {best:.3f}")
        seen |= set(first)


# ------------------------------------------------------------- stream_gate

def smoke_stream(d):
    lines = truth_lines(d)
    windows_want = lines[-1]["windows"]
    max_ts = None
    prev_texts = set()
    win = defaultdict(lambda: [0, 0, 0, 0])
    types = {"view", "click", "purchase", "signup", "error"}
    for t in lines[:-1]:
        evs = read(d / f"batch-{t['batch']:06d}" / "events.parquet")
        ms = [int(e["ts"].timestamp() * 1000) for e in evs]
        wm = 0 if max_ts is None else max_ts - 120000
        check(wm == t["watermark_ms"], f"stream batch {t['batch']}: watermark {wm} != {t['watermark_ms']}")
        late = dups = 0
        for e, m in zip(evs, ms):
            start = m // 60000 * 60000
            if start + 60000 <= wm:
                late += 1
                continue
            dups += e["text"] in prev_texts
            w = win[str(start)]
            w[0] += 1
            w[1] += e["user_id"] is None
            w[2] += e["event_type"] not in types
            w[3] += not 0.0 <= e["value"] <= 1000.0
        check(late == t["late"], f"stream batch {t['batch']}: late {late} != {t['late']}")
        check(dups == t["dups"], f"stream batch {t['batch']}: dups {dups} != {t['dups']}")
        max_ts = max([max_ts or 0] + ms)
        prev_texts = {e["text"] for e in evs}
    got = {k: {"n": v[0], "null_user": v[1], "bad_type": v[2], "bad_value": v[3]} for k, v in win.items()}
    check(got == windows_want, "stream: per-window counts differ from the truth")
    check(sum(t["late"] for t in lines[:-1]) > 0, "stream: no late events planted")


def main():
    root = Path.cwd()
    cp = build.classpath(root)
    tmp = build.build_dir(root) / "smoke"
    shutil.rmtree(tmp, ignore_errors=True)
    recount = {"dq_gate": smoke_dq, "curate": smoke_curate, "stream_gate": smoke_stream}
    for w, fn in recount.items():
        a, b, c = tmp / f"{w}-a", tmp / f"{w}-b", tmp / f"{w}-c"
        generate(root, cp, w, 7, a)
        generate(root, cp, w, 7, b)
        generate(root, cp, w, 8, c)
        sa = snapshot(a)
        check(sa == snapshot(b), f"{w}: the same seed gave different inputs")
        check(sa != snapshot(c), f"{w}: different seeds gave identical inputs")
        fn(a)
        print(f"smoke {w}: {'ok' if not FAILS else 'FAILED'}")
    shutil.rmtree(tmp, ignore_errors=True)
    for f in FAILS:
        print("FAIL", f)
    return 1 if FAILS else 0


if __name__ == "__main__":
    sys.exit(main())
