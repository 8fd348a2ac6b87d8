"""Output checks that need no Spark session, and the per-layer metric set.

The JVM side checks what only a live session can see (curate's
survivors, the audit table's row count); these checks
compare the engine's outputs with the generator's expectations and, for
olap_scan, with the engine's own oracle SQL run in DuckDB. Every check
runs after the timed window and counts as one attempted operation.
"""
import math
import os

import duckdb
import pyarrow.parquet as pq


def _ok(name, ok, detail=""):
    return {"name": name, "ok": bool(ok), "detail": "" if ok else detail}


def check(workload, res, expect, inputs):
    if res.get("error"):
        return []
    return {"etl_batch": _etl, "curate_corpus": _curate,
            "olap_scan": _olap}[workload](res, expect, inputs)


def _etl(res, expect, inputs):
    out, files = [], expect["files"]
    reps = res["outputs"]["reports"]
    first = [r for r in reps if r["kind"] == "first"]
    by_file = {f["file"]: f for f in files}
    for r in reps:
        e = by_file[r["file"]]
        want_ins = e["inserted"] if r["kind"] == "first" else 0
        got = (r["valid"], r["rejected"], r["inserted"])
        out.append(_ok(f"etl.{r['kind']}_counts", got == (e["valid"], e["rejected"], want_ins)
                       and r["valid"] + r["rejected"] == e["input"],
                       f"{r['file']}: (valid, rejected, inserted) {got} != "
                       f"{(e['valid'], e['rejected'], want_ins)}"))
    out.append(_ok("etl.glob_order", [r["file"] for r in first] == [f["file"] for f in files[:len(first)]],
                   "files not processed in glob order"))
    # the fact table holds exactly the canonical rows, each with the lineage
    # of the first file that brought it (first writer wins)
    wh = res["outputs"]["warehouse"]
    fact = pq.read_table(f"{wh}/personas_limpias").to_pylist()
    city = {r["ciudad_id"]: r["nombre"] for r in pq.read_table(f"{wh}/ciudades").to_pylist()}
    got = [(r["nombre"], r["edad"], city.get(r["ciudad_id"]), r["run_id"]) for r in fact]
    run_of = {r["file"]: r["run_id"] for r in first}
    want = [(k[0], k[1], k[2], run_of[f["file"]]) for f in files[:len(first)] for k in f["new_keys"]]
    out.append(_ok("etl.fact_rows", sorted(got) == sorted(want),
                   f"{len(got)} fact rows, {len(want)} expected; "
                   f"first difference {sorted(set(got) ^ set(want))[:1]}"))
    agg = {}
    for n, a, c, _ in want:
        s = agg.setdefault(c, [0, 0])
        s[0] += 1
        s[1] += a
    want_agg = sorted((c, n, s / n) for c, (n, s) in agg.items())
    got_agg = sorted((r["ciudad"], r["total_personas"], r["edad_promedio"])
                     for r in res["outputs"]["aggregate"])
    out.append(_ok("etl.city_aggregate", got_agg == want_agg,
                   f"city aggregate differs: {sorted(set(got_agg) ^ set(want_agg))[:2]}"))
    runs = pq.read_table(f"{wh}/etl_runs").to_pylist()
    out.append(_ok("etl.audit_runs", sorted(r["run_id"] for r in runs) == sorted(r["run_id"] for r in reps),
                   f"etl_runs has {len(runs)} rows for {len(reps)} processed files"))
    return out


def _curate(res, expect, inputs):
    stages = {s["stage"]: s["docs"] for s in res["outputs"]["stages"]}
    order = [s["stage"] for s in res["outputs"]["stages"]]
    counts = [stages[s] for s in order if s != "packed_blocks"]
    return [
        _ok("curate.canonicalize_count", stages.get("canonicalize") == expect["docs"],
            f"canonicalize {stages.get('canonicalize')} != {expect['docs']} input docs"),
        _ok("curate.stages_shrink", all(a >= b for a, b in zip(counts, counts[1:])),
            f"a stage grew the corpus: {stages}"),
        _ok("curate.exact_dedup_removes_copies",
            stages["quality"] - stages["exact_dedup"] <= expect["exact_copies"]
            and stages["exact_dedup"] < stages["quality"],
            f"exact dedup removed {stages['quality'] - stages['exact_dedup']} docs; "
            f"the corpus holds {expect['exact_copies']} exact copies"),
    ]


def _norm(rows, cols):
    def cell(v):
        if isinstance(v, float):
            return ("f", v) if not math.isnan(v) else ("nan",)
        return ("s", "" if v is None else str(v))
    return sorted(tuple(cell(r[c]) for c in cols) for r in rows)


def _olap(res, expect, inputs):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    out = []
    base = res["outputs"]["results"]
    for name, sql in sorted(res["outputs"]["oracle"].items()):
        got_t = con.execute(f"SELECT * FROM read_parquet('{os.path.join(base, name)}/*.parquet')")
        got_cols = [d[0] for d in got_t.description]
        got = [dict(zip(got_cols, r)) for r in got_t.fetchall()]
        want_t = con.execute(sql)
        want_cols = [d[0] for d in want_t.description]
        want = [dict(zip(want_cols, r)) for r in want_t.fetchall()]
        cols = sorted(want_cols)
        ok = sorted(got_cols) == cols and _norm(got, cols) == _norm(want, cols)
        out.append(_ok(f"olap.{name}", ok and len(want) > 0,
                       f"{name}: {len(got)} rows vs oracle {len(want)}"))
    return out


LAYER_UNITS = {"span_s": "s", "spark.jobs": "count", "spark.job_union_s": "s",
               "spark.driver_gap_s": "s", "spark.overlap": "ratio", "spark.task_s": "s",
               "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes",
               "catalyst.planning_s": "s", "fs.write_ops": "count",
               "fs.bytes_written": "bytes", "jvm.gc_s": "s"}
LAYERS = ["pipeline", "warehouse", "operators", "queries"]


def layer_metrics(res):
    """The per-layer metric set of BENCHMARK.json from a traced run: the
    headline call's per-call medians, the job-time share of each repo
    layer, the AQE stage-job share, span coverage and tracing overhead."""
    lay = res["layers"]
    head = lay["ops"][res["headline"]]
    m = {f"call.{q}": (head[q], u) for q, u in LAYER_UNITS.items()}
    for layer in LAYERS:
        m[f"site.{layer}.job_share"] = (lay["layer_job_share"].get(layer, 0.0), "ratio")
    m["spark.aqe_job_share"] = (lay["aqe_job_share"], "ratio")
    m["trace.overhead"] = (lay["overhead"], "ratio")
    m["trace.span_coverage"] = (res["span_coverage"], "ratio")
    m["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    return m
