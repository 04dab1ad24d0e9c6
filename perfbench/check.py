"""Independent output checks for the graft benchmark.

Each check recomputes what an op must return with DuckDB, numpy or plain
Python over the generated inputs and the planted ground truth, or tests a
property the method must have. None compares against a stored copy of an
earlier output. `run` returns {op name: [problem, ...]} for the ops whose
output is wrong, plus metrics that need the independent computation
(ANN recall).
"""
import json
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

from gen import jaccard

NEAR_THRESHOLD = 0.8        # minhashNearDupPairs / dedupAgainstIndex default
LSH_HASHES, LSH_BANDS = 64, 16
MISS_TOLERANCE = 1e-7       # planted pairs this unlikely to be missed must be caught
HLL_M = 1024
SIGMAS = 5                  # estimate error bound, in standard errors


class Outputs:
    def __init__(self, d):
        self.d = d

    def __call__(self, name):
        path = os.path.join(self.d, f"{name}.jsonl")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return [json.loads(line) for line in f]


def close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is b
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def lsh_miss(j):
    r = LSH_HASHES // LSH_BANDS
    return (1 - j ** r) ** LSH_BANDS


def run(workload, data, outputs):
    problems = {}
    extra = {}
    out = Outputs(outputs)
    inputs = os.path.join(data, "inputs")
    truth_dir = os.path.join(data, "truth")
    con = duckdb.connect()

    def check(name, fn):
        rows = out(name)
        if rows is None:
            return          # the op threw before producing an output
        try:
            msgs = fn(rows)
        except Exception as e:  # a malformed output is a failed check
            msgs = [f"check raised {type(e).__name__}: {e}"]
        if msgs:
            problems.setdefault(name, []).extend(msgs)

    if workload == "kframe_reshape":
        kframe(check, con, inputs)
    else:
        extra = store(check, out, con, inputs, truth_dir)
    return problems, extra


def same_value(p, q):
    if isinstance(p, float) and isinstance(q, float):
        return (math.isnan(p) and math.isnan(q)) or close(p, q)
    if isinstance(p, list) and isinstance(q, list):
        return len(p) == len(q) and all(map(same_value, p, q))
    return p == q


def same_rows(a, b, ordered):
    """Rows equal up to float rounding (aggregation order may differ between
    rounds); unordered results compare as sorted by their non-float fields."""
    def key(r):
        return "\x01".join("" if isinstance(v, float) else json.dumps(v) for v in r)
    if not ordered:
        a, b = sorted(a, key=key), sorted(b, key=key)
    return len(a) == len(b) and all(map(same_value, a, b))


def differing_rounds(outputs, ops):
    """{op name: later rounds whose output differs from the first warm-up
    round's}. An op that threw in a round wrote no output for it; that round
    is counted as thrown, not here."""
    rounds_dir = os.path.join(outputs, "rounds")
    out, rounds_out = Outputs(outputs), Outputs(rounds_dir)
    labels = {}
    for f in os.listdir(rounds_dir):
        name, label, _ = f.rsplit(".", 2)
        labels.setdefault(name, []).append(label)
    differed = {}
    for op in ops:
        ref = out(op["name"])
        n = 0
        for label in labels.get(op["name"], []):
            rows = rounds_out(f"{op['name']}.{label}")
            if ref is not None and not same_rows(ref, rows, op["ordered"]):
                n += 1
        differed[op["name"]] = n
    return differed


# ------------------------------------------------------------ kframe_reshape

def kframe(check, con, inputs):
    for name in ("sales", "sales_more", "wide", "scores"):
        p = os.path.join(inputs, f"{name}.parquet")
        con.execute(f"create view {name} as select * from read_parquet('{p}')")
    q = lambda sql: [list(r) for r in con.execute(sql).fetchall()]
    n = q("select count(*) from sales")[0][0]

    def same(want, ordered=True, key=None):
        def fn(rows):
            a, b = rows, want
            if not ordered:
                a, b = sorted(a, key=key), sorted(b, key=key)
            if len(a) != len(b):
                return [f"{len(a)} rows, want {len(b)}"]
            for x, y in zip(a, b):
                if len(x) != len(y) or not all(
                        close(u, v) if isinstance(v, float) or isinstance(u, float)
                        else u == v for u, v in zip(x, y)):
                    return [f"row {x} != expected {y}"]
            return []
        return fn

    check("aggregate", same(q(
        "select region, sum(units), sum(units) from sales group by 1 order by 1")))
    months = [f"m{i:02d}" for i in range(1, 13)]
    regions = [r[0] for r in q("select region from wide order by 1")]
    check("reshape", same(
        [[m] + [q(f"select {m} from wide where region = '{r}'")[0][0] for r in regions]
         for m in months], ordered=False, key=lambda r: r[0]))
    # positions in (units, rid) order: tail, drop 10, head -> 12;
    # init, take 20, last -> 20
    check("sort_head", same(q("select rid, units from sales order by units, rid limit 1 offset 11")))
    check("sort_last", same(q("select rid, units from sales order by units, rid limit 1 offset 19")))
    check("append_zip", same(q(
        f"select s.rid, s.units, c.score from (select rid, units, row_number() over "
        f"(order by rid) as i from (select * from sales union all select * from "
        f"sales_more)) s join (select score, row_number() over () as i from scores) c "
        f"using (i) order by s.i limit 100 offset {n - 50}")))

    def render(rows):
        cells = rows[0][0].split()
        return [f"cell {r[:2]} = {r[2]} not rendered" for r in q(
            "select region, channel, sum(units) from sales group by 1, 2")
            if str(r[2]) not in cells][:5]
    check("render", render)

    def babel(rows):
        spec = json.loads(rows[0][0])
        got = sorted((v["region"], v["channel"], v["units"]) for v in spec["data"]["values"])
        want = sorted(tuple(r) for r in q(
            "select region, channel, sum(units) from sales group by 1, 2"))
        msgs = [] if got == want else ["data values differ from the aggregates"]
        if spec["encoding"]["y"].get("stack") != "zero" or spec["mark"] != "bar":
            msgs.append("stacked bar encoding missing")
        return msgs
    check("babel", babel)


# ------------------------------------------------------------ store_lifecycle

def store(check, out, con, inputs, truth_dir):
    with open(os.path.join(truth_dir, "store.json")) as f:
        t = json.load(f)
    ev = lambda f: f"read_parquet('{os.path.join(inputs, f)}')"
    base = f"select * from {ev('events_base.parquet')}"
    stream = f"select * from {ev('stream/*.parquet')}"
    batch = f"select * from {ev('events_batch.parquet')}"
    q = lambda sql: con.execute(sql).fetchall()

    def distinct(src):
        return dict(q(f"select kind, count(distinct user) from ({src}) group by 1"))

    def within(est, exact, rse):
        return abs(est - exact) <= SIGMAS * rse * exact + 1e-9

    def hll(src):
        want = distinct(src)

        def fn(rows):
            got = dict(rows)
            if got.keys() != want.keys():
                return [f"kinds {sorted(got)} != {sorted(want)}"]
            return [f"{k}: estimate {got[k]} vs exact {want[k]}" for k in want
                    if not within(got[k], want[k], 1.04 / math.sqrt(HLL_M))]
        return fn

    def hist(src):
        vals = {k: np.sort(np.array([v for (v,) in q(
            f"select size from ({src}) where kind = '{k}'")]))
            for (k,) in q(f"select distinct kind from ({src})")}

        def fn(rows):
            msgs = []
            for kind, qq, est, total in rows:
                v = vals[kind]
                true = int(v[math.ceil(qq * len(v)) - 1])
                if total != len(v) or not true * 7 / 8 < est <= true:
                    msgs.append(f"{kind} q{qq}: {est} (n {total}) vs exact {true} (n {len(v)})")
            return msgs
        return fn

    def equal_to(name):
        def fn(rows):
            ref = out(name)
            if ref is None:
                return [f"no {name} output to compare with"]
            key = lambda r: json.dumps(r[:-1])
            a, b = sorted(rows, key=key), sorted(ref, key=key)
            if len(a) != len(b) or any(x[:-1] != y[:-1] or not close(x[-1], y[-1], 1e-12)
                                       for x, y in zip(a, b)):
                return [f"differs from {name}"]
            return []
        return fn

    check("hll_pinned", hll(f"{base} union all {batch}"))
    check("read_hll_at", equal_to("hll_pinned"))
    check("hll_without_batch", hll(f"{base} union all {stream}"))
    check("read_hll", equal_to("hll_without_batch"))
    check("initial_hist", hist(base))
    check("read_hist", equal_to("initial_hist"))

    labeled = ev("labeled_docs.parquet")
    n_null = q(f"select count(*) from {labeled} where doc_id is null")[0][0]

    def nb_two_frame(rows):
        want = {i for (i,) in q(f"select doc_id from {labeled} where split = 'score'")}
        msgs = []
        if {r[0] for r in rows} != want:
            msgs.append(f"scored {len(rows)} docs, want the {len(want)} new docs")
        if not all(r[1] is not None and math.isfinite(r[1]) for r in rows):
            msgs.append("non-finite scores")
        return msgs
    check("nb_two_frame", nb_two_frame)  # recorded at set-up

    def nb_within(rows):
        ref = out("nb_two_frame")
        if ref is None:
            return ["no two-frame output to compare with"]
        want = {r[0]: r[1] for r in ref}
        got = {r[0]: r[1] for r in rows}
        if got.keys() != want.keys():
            return [f"scored {len(got)} docs, the two-frame form {len(want)}"]
        bad = [i for i in got if not close(got[i], want[i])]
        if bad:
            worst = max(abs(got[i] - want[i]) for i in bad)
            return [f"differs from nbClassifierScore on {len(bad)} of {len(got)} "
                    f"docs (max |diff| {worst:.3g}); {n_null} training docs have "
                    "a null id"]
        return []
    check("nb_within", nb_within)

    n_stream = len(os.listdir(os.path.join(inputs, "stream")))
    check("stream_ingest", lambda rows: [] if rows == [[n_stream]] else
          [f"{rows} micro-batches committed, want {n_stream}"])

    def gate(rows):
        got = {r[0] for r in rows}
        gate_ids = {i for (i,) in q(f"select doc_id from {ev('gate_docs.parquet')}")}
        near = {a: j for a, _, j in t["gate_near"]}
        msgs = []
        for a, j in near.items():
            if j >= NEAR_THRESHOLD and lsh_miss(j) < MISS_TOLERANCE and a in got:
                msgs.append(f"near duplicate {a} (Jaccard {j:.3f}) passed the gate")
        kept = gate_ids - set(near)
        if not kept <= got:
            msgs.append(f"{len(kept - got)} new docs with no indexed near duplicate removed")
        return msgs[:5]
    check("gate", gate)

    vt = pq.read_table(os.path.join(inputs, "vectors.parquet")).to_pydict()
    vec = np.array(vt["vec"])
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    qids = pq.read_table(os.path.join(inputs, "queries.parquet")).to_pydict()["vec_id"]
    sims = vec[qids] @ vec.T
    for row, qi in enumerate(qids):
        sims[row, qi] = -np.inf            # the query itself is excluded
    exact_top = {qi: set(np.argsort(-sims[row], kind="stable")[:10].tolist())
                 for row, qi in enumerate(qids)}

    def topk_rows(rows, full):
        msgs, by_q = [], {}
        for qi, c, s in rows:
            by_q.setdefault(qi, []).append((c, s))
        for row, qi in enumerate(qids):
            got = by_q.get(qi, [])
            if len(got) > 10 or (full and len(got) != 10):
                msgs.append(f"query {qi}: {len(got)} results")
            for c, s in got:
                if c == qi or not close(s, float(sims[row, c])):
                    msgs.append(f"query {qi}: candidate {c} sim {s} vs {sims[row, c]}")
            if full and len(got) == 10:
                kth = min(s for _, s in got)
                above = set(np.nonzero(sims[row] > kth + 1e-9)[0].tolist())
                if not above <= {c for c, _ in got}:
                    msgs.append(f"query {qi}: misses candidates above the 10th score")
        return msgs[:5]
    check("exact_topk", lambda rows: topk_rows(rows, True))  # recorded at set-up
    check("ivfpq_probe", lambda rows: topk_rows(rows, False))

    probe = out("ivfpq_probe") or []
    hits = sum(1 for qi, c, _ in probe if c in exact_top.get(qi, ()))
    return {"ann.recall_at_10": hits / (10 * len(qids))}
