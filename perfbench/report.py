"""Output checks and metric reduction for run.py.

Checks (outside the timed window):
  - query ops: each query's result, dumped once after the timed passes,
    against the catalog's DuckDB oracle (graft.SparkEntry.oracleSql),
    compared cell by cell the way scripts/check_oracle.py compares;
  - elt_load ops: rows and per-column NULL counts of every execution
    against what the generator knows, and a read-back of the landed
    pgcopy and parquet output;
  - traced runs: each plans kernel against its built-in twin.
An op execution that threw, or whose output is wrong, counts as failed.
"""
import glob
import hashlib
import json
import math
import os
import pickle
import statistics
import sys

import gen_elt

HERE = os.path.dirname(os.path.abspath(__file__))

# Printed with the end-to-end metrics but not part of the run's result:
# op_p50_s spreads too widely from run to run to be gated, op_p90_s exists
# only with ten samples beyond it, fail_ratio is zero on a correct run, and
# load_rows_per_s is a fixed row count over warm_pass_s.
PRINTED_ONLY = [
    ("op_p50_s", "s"),
    ("op_p90_s", "s"),
    ("load_rows_per_s", "1/s"),
    ("fail_ratio", "ratio"),
]


def spec():
    """BENCHMARK.json: the metrics a run reports, with units and bounds."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def layer_spec():
    """layers.json: per per_layer metric, its module, what it times and the
    end-to-end metrics it should move."""
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)["metrics"]


def units(trace):
    """Metric name -> unit of the metrics a run reports."""
    return {m["name"]: m["unit"]
            for m in spec()["per_layer" if trace else "end_to_end"]}


def percentile(values, q):
    """Nearest-rank q-quantile of values, or None when fewer than ten
    samples lie beyond it (a tail figure needs ten samples past it)."""
    n = len(values)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < 10:
        return None
    return sorted(values)[rank - 1]


# ------------------------------------------------------------------ checks

def _oracle_answer(con, cache, sf_dir, name, sql):
    """The oracle's result for one query. The tables of a scale factor are
    fixed, so the answer is cached by (tables, query, SQL) next to them."""
    key = hashlib.sha256(
        f"{os.path.basename(sf_dir)}\0{name}\0{sql}".encode()).hexdigest()
    path = os.path.join(cache, f"{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    want = con.execute(sql).fetchdf()
    os.makedirs(cache, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(want, f)
    os.replace(path + ".tmp", path)
    return want


def _oracle(root, sf_dir, check_dir, names):
    """query -> (problem or None, result rows), like check_oracle.py."""
    import duckdb
    sys.path.insert(0, os.path.join(root, "scripts"))
    import check_oracle
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for name in names:
        try:
            got = con.execute("SELECT * FROM read_parquet("
                              f"'{check_dir}/{name}/*.parquet')").fetchdf()
        except Exception as e:  # noqa: BLE001 - any read failure is a failure
            out[name] = (f"{name}: no result ({e})", 0)
            continue
        if name not in oracles:     # the catalog's rows-only checks
            out[name] = (None, len(got))
            continue
        want = _oracle_answer(con, os.path.join(sf_dir, "_oracle"), sf_dir,
                              name, oracles[name])
        gcols, wcols = sorted(got.columns), sorted(want.columns)
        problem = None
        if gcols != wcols:
            problem = f"{name}: columns {gcols} != {wcols}"
        elif len(got) != len(want):
            problem = f"{name}: rows {len(got)} != {len(want)}"
        else:
            bad = 0
            for c in gcols:
                for a, b in zip(got[c].tolist(), want[c].tolist()):
                    a = None if isinstance(a, float) and math.isnan(a) else a
                    b = None if isinstance(b, float) and math.isnan(b) else b
                    bad += not check_oracle.eq(a, b)
            if bad:
                problem = f"{name}: {bad} mismatched cells"
        out[name] = (problem, len(got))
    return out


def _landed(out_dir, name, sink):
    """Rows a sink landed for one table, as COPY-text field tuples."""
    if sink == "pgcopy":
        rows = []
        for p in sorted(glob.glob(os.path.join(out_dir, name, "part-*"))):
            with open(p, encoding="utf-8") as f:
                for line in f.read().splitlines():
                    rows.append(tuple(None if v == "\\N" else v
                                      for v in line.split("\t")))
        return rows
    import pyarrow.parquet as pq
    rows = []
    for r in pq.read_table(os.path.join(out_dir, name)).to_pylist():
        rows.append(tuple(
            None if r[c] is None else
            r[c].strftime("%Y-%m-%d %H:%M:%S") if c == "event_ts" else
            str(r[c]) for c in gen_elt.TARGET_COLS))
    return rows


def check(wl, raw, run_dir, sf_dir, seed, root):
    """Check every op execution; returns problems, counts and op rows."""
    problems, bad_ops, op_rows = [], set(), {}
    execs = [o for p in raw.get("passes", []) for o in p["ops"]]
    failed = sum(1 for o in execs if o["error"])
    problems += [f"{o['name']}: {o['error']}" for o in execs if o["error"]]
    if wl["kind"] == "queries":
        problems += raw.get("check_errors", [])
        res = _oracle(root, sf_dir, os.path.join(run_dir, "check"),
                      sorted({o["name"] for o in execs}))
        for name, (problem, rows) in res.items():
            op_rows[name] = rows
            if problem:
                problems.append(problem)
                bad_ops.add(name)
    else:
        out_dir = os.path.join(run_dir, "out")
        for i, (name, _, n, sink) in enumerate(gen_elt.tables()):
            recs = gen_elt.source_rows(seed, i, n)
            nulls = gen_elt.null_counts(recs)
            op_rows[name] = n
            for o in execs:
                if o["name"] == name and not o["error"] and (
                        o.get("rows") != n or o["nulls"] != nulls):
                    problems.append(f"{name}: rows {o.get('rows')} nulls "
                                    f"{o['nulls']} != {n} {nulls}")
                    bad_ops.add(name)
            if sorted(_landed(out_dir, name, sink), key=str) != sorted(
                    gen_elt.expected_rows(recs), key=str):
                problems.append(f"{name}: landed {sink} output differs")
                bad_ops.add(name)
    failed += sum(1 for o in execs if o["name"] in bad_ops and not o["error"])
    if raw.get("kernel_mismatches"):
        problems += [f"kernel {k} disagrees with its built-in twin"
                     for k in raw["kernel_mismatches"]]
        failed += len(raw["kernel_mismatches"])
    return {"problems": problems, "failed": failed,
            "attempted": max(1, len(execs)), "op_rows": op_rows}


# ----------------------------------------------------------------- metrics

def metrics(workload, raw, checked, trace):
    if trace:
        m = dict(raw["layers"])
        m["pipeline.rows_unknown"] = float(sum(
            1 for p in raw["passes"] for o in p["ops"]
            if workload == "elt_load" and not o["error"] and "rows" not in o))
        return m
    warm = raw["passes"][1:]
    lat = [o["s"] for p in warm for o in p["ops"]]
    # each op's fastest execution in the first warm passes, as graft.Bench's
    # min-of-N: a window of load on the box slows some passes, rarely every
    # one. N is fixed, so the estimator does not depend on the speed it
    # measures.
    best = {}
    for p in warm[:int(raw["warm_passes"])]:
        for o in p["ops"]:
            best[o["name"]] = min(o["s"], best.get(o["name"], math.inf))
    warm_pass = sum(best.values())
    return {
        "setup_s": statistics.median(raw["setup_samples"]),
        "cold_pass_s": raw["passes"][0]["wall_s"],
        "warm_pass_s": warm_pass,
        "op_p50_s": statistics.median(lat),
        "op_p90_s": percentile(lat, 0.9),
        "op_samples": len(lat),
        "load_rows_per_s": sum(checked["op_rows"].get(n, 0) for n in best)
                           / warm_pass,
        "driver_rss_peak_mb": raw["rss_peak_mb"],
        "fail_ratio": checked["failed"] / checked["attempted"],
    }


def describe(m, checked, raw):
    """One human-readable line per op and per metric, with its unit."""
    unit = dict(units(False), **units(True), **dict(PRINTED_ONLY))
    lines = []
    lines.append("passes: " + " ".join(f"{p['wall_s']:.3f}"
                                       for p in raw["passes"]) + " s")
    for name in sorted({o["name"] for o in raw["passes"][0]["ops"]}):
        s = [[o["s"] for o in p["ops"] if o["name"] == name]
             for p in raw["passes"]]
        warm = [x for p in s[1:] for x in p]
        lines.append(f"op {name}: cold {s[0][0]:.3f} s, warm median "
                     f"{statistics.median(warm):.3f} s, min {min(warm):.3f} s")
    for k, v in m.items():
        if k == "op_samples":
            continue
        if k == "op_p90_s" and v is None:
            lines.append(f"op_p90_s = n/a (needs 10 samples beyond it; "
                         f"{m['op_samples']} samples)")
            continue
        extra = f" (n={m['op_samples']})" if k.startswith("op_p") else ""
        lines.append(f"{k} = {v:.6g} {unit.get(k, '')}{extra}")
    lines.append(f"attempted = {checked['attempted']} failed = "
                 f"{checked['failed']}")
    return lines
