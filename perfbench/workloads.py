"""The benchmark's workloads: their inputs, their output checks and the
metrics each one reports."""
import glob
import hashlib
import json
import os
import statistics
import time

import gen

GEN_SOURCE = hashlib.sha256(open(gen.__file__, "rb").read()).hexdigest()[:16]


WORKLOADS = ("promql_dashboard", "etl_service")


def make_input(build_dir, seed):
    """The generated input of this seed, shared by both workloads (cached by
    seed and generator source)."""
    d = os.path.join(build_dir, "inputs", f"{GEN_SOURCE}-s{seed}")
    if not os.path.exists(os.path.join(d, "events.parquet")):
        gen.write(d, seed)
    return d


def describe(seed):
    return {"generator": "perfbench/gen.py", "seed": seed, **gen.SHAPE}


# --------------------------------------------------------------- checks

def _canon(con, sql):
    df = con.execute(sql).fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.astype(str).sort_values(by=list(df.columns)).reset_index(drop=True)
    digest = hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()
    return {"columns": list(df.columns), "rows": len(df), "digest": digest}


def check(res, data_dir, cores, cache_dir):
    """Compare every dumped warm result with its DuckDB oracle (as the repo's
    tools/check.py canonicalises them) and collect the JVM's own checks."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {max(1, cores)}")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    os.makedirs(cache_dir, exist_ok=True)
    fingerprint = os.path.basename(os.path.normpath(data_dir))
    failures, oracle_ok, oracle_s = [], {}, {}
    for name, o in sorted(res.get("oracles", {}).items()):
        t0 = time.time()
        key = hashlib.sha256((fingerprint + "\n" + o["sql"]).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        try:
            if os.path.exists(cached):
                with open(cached) as f:
                    want = json.load(f)
            else:
                want = _canon(con, o["sql"])
                with open(cached, "w") as f:
                    json.dump(want, f)
            if o["dir"]:
                got = _canon(con, f"SELECT * FROM read_parquet('{o['dir']}/*.parquet')")
            else:
                got = {"columns": want["columns"], "rows": 0, "digest": None}
        except Exception as e:  # a broken oracle or dump is a failed check
            oracle_ok[name] = False
            failures.append((name, f"check error: {e}"))
            continue
        if got["columns"] != want["columns"]:
            why = f"columns {got['columns']} vs {want['columns']}"
        elif got["rows"] != want["rows"]:
            why = f"rows {got['rows']} vs {want['rows']}"
        elif got["rows"] and got["digest"] != want["digest"]:
            why = f"values differ ({got['rows']} rows)"
        else:
            why = None
        oracle_ok[name] = why is None
        oracle_s[name] = time.time() - t0
        if why:
            failures.append((name, "oracle: " + why))
    for name, c in res.get("checks", {}).items():
        if not c["ok"]:
            failures.append((name, c["detail"]))
    for o in res.get("warm", []):
        if not o["ok"]:
            failures.append((o["name"], "warm: " + (o["err"] or "failed")))
    return {"oracle_ok": oracle_ok, "oracle_s": oracle_s, "failures": failures,
            "checks": res.get("checks", {}), "correct": not failures}


# -------------------------------------------------------------- metrics

NAN = float("nan")

# The end-to-end metrics every workload reports, and the figure each one
# stands for in each workload. Means, not percentiles: a run holds a few
# samples per operation, and single samples on a shared 4-core box vary by
# up to ±30%, so only averages over a run's samples repeat from run to run.
# `first_answer_s` is printed but is not one of them: it is one cold sample
# per run, and a run cannot afford to start the JVM again to repeat it.
END_TO_END = {
    "setup_s": ("s", {"promql_dashboard": "setup_s", "etl_service": "setup_s"}),
    "cache_mb": ("MB", {"promql_dashboard": "cache_mb", "etl_service": "cache_mb"}),
    "main_mean_s": ("s", {"promql_dashboard": "promql_instant_mean_s",
                          "etl_service": "etl_run_mean_s"}),
    "wide_mean_s": ("s", {"promql_dashboard": "promql_range_mean_s",
                          "etl_service": "report_mean_s"}),
    "batch_s": ("s", {"promql_dashboard": "pack_pass_s",
                      "etl_service": "repair_s_per_day"}),
}


def _pct(values, q):
    """The q-th percentile (0 < q < 100) of `values`, exclusive method."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]


def _one(value, unit, better="lower"):
    return {"value": value, "n": 1, "unit": unit, "better": better}


def _dist(values, q, unit):
    return {"value": _pct(values, q) if values else NAN, "n": len(values), "unit": unit,
            "better": "lower"}


def _mean(values):
    return {"value": statistics.mean(values) if values else NAN, "n": len(values),
            "unit": "s", "better": "lower"}


def _pooled(samples, prefix):
    return [x for k, v in samples.items() if k.startswith(prefix + "/") for x in v]


def _medians(samples, prefix):
    """The median of each sample key under `prefix/` (one key per repeated
    operation)."""
    return [statistics.median(v) for k, v in samples.items()
            if k.startswith(prefix + "/") and v]


def metrics(workload, res, verdict):
    """Every figure of the run under its full name (`named`), and the
    end-to-end metrics the result line carries."""
    oracle_ok = verdict["oracle_ok"]

    def ok(o):
        return o["ok"] and oracle_ok.get(o["name"], True)

    warm, timed = res.get("warm", []), res.get("timed", [])
    checks = res.get("checks", {})
    attempted = len(warm) + len(timed) + len(checks)
    failed = sum(not ok(o) for o in warm + timed) + sum(not c["ok"] for c in checks.values())
    start = res["jvm_start_ms"]
    answers = [o["end_ms"] for o in warm if ok(o)]
    named = {
        "setup_s": _one((res["timed_start_ms"] - start) / 1000.0, "s"),
        "first_answer_s": _one((min(answers) - start) / 1000.0 if answers else NAN, "s"),
        "cache_mb": _one(res["figures"]["cache_mb"], "MB"),
        "failed_ratio": {**_one(failed / max(1, attempted), "ratio"), "n": attempted},
    }
    samples = res.get("samples", {})
    if workload == "promql_dashboard":
        # percentiles over the queries of a kind, each query at its median
        # over the run's cycles
        per_query = {}
        for o in timed:
            if ok(o):
                per_query.setdefault(o["kind"], {}).setdefault(o["name"], []).append(o["sec"])
        med = {k: [statistics.median(v) for v in q.values()] for k, q in per_query.items()}
        named["promql_instant_mean_s"] = _mean(
            [x for v in per_query.get("instant", {}).values() for x in v])
        named["promql_range_mean_s"] = _mean(
            [x for v in per_query.get("range", {}).values() for x in v])
        for kind in ("instant", "range"):
            for q in (50, 90):
                named[f"promql_{kind}_p{q}_s"] = _dist(med.get(kind, []), q, "s")
        cur = med.get("curation", [])
        named["pack_pass_s"] = {**_one(sum(cur) if cur else NAN, "s"), "n": len(cur)}
        named["pack_query_p90_s"] = _dist(cur, 90, "s")
    else:
        # percentiles over the scheduled positions of a pass, each at its
        # median over the run's passes
        for key, name in (("etl_run_s", "etl_run"), ("report_s", "report")):
            named[f"{name}_mean_s"] = _mean(_pooled(samples, key))
            for q in (50, 90):
                named[f"{name}_p{q}_s"] = _dist(_medians(samples, key), q, "s")
        # the best of the force repairs: the first ones still pay JIT warm-up
        force = samples.get("repair_days_per_s/repair_force", [])
        rate = max(force) if force else NAN
        named["repair_days_per_s"] = {**_one(rate, "days/s", "higher"), "n": len(force)}
        named["repair_s_per_day"] = {**_one(1 / rate if force else NAN, "s"),
                                     "n": len(force)}
    end_to_end = {k: {"value": named[names[workload]]["value"], "unit": unit,
                      "stands_for": names[workload]}
                  for k, (unit, names) in END_TO_END.items()}
    return {"named": named, "end_to_end": end_to_end,
            "attempted": attempted, "failed": failed}


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("bytes_per_row"):
        return "bytes/row"
    return "count"
