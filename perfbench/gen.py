"""Seeded input generators for the three workloads.

Every generator takes a `numpy.random.Generator` built from the run's
seed, writes the engine's inputs under `out`, and returns the expectations
the output checks need. The same seed gives the same bytes.
"""
import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- etl_batch

FIRST = ["ana", "josé", "maría", "luis", "carmen", "jorge", "lucía", "pedro",
         "sofía", "diego", "elena", "pablo", "marta", "javier", "isabel",
         "andrés", "paula", "miguel", "laura", "tomás", "begoña", "iñaki",
         "raúl", "inés", "óscar", "noemí", "julián", "ramón", "celia", "iván"]
LAST = ["garcía", "lópez", "martínez", "sánchez", "pérez", "gómez", "díaz",
        "muñoz", "álvarez", "romero", "navarro", "torres", "domínguez",
        "vázquez", "ramos", "gil", "serrano", "blanco", "molina", "morales",
        "ortega", "delgado", "castro", "ortiz", "rubio", "marín", "sanz",
        "núñez", "iglesias", "medina"]
# Unicode city names; drawn with a skewed (Zipf-like) distribution
CITIES = ["madrid", "bogotá", "medellín", "são paulo", "ciudad de méxico",
          "düsseldorf", "zürich", "málaga", "córdoba", "kraków", "reykjavík",
          "cancún", "san josé", "montréal", "québec", "ñuñoa", "århus",
          "asunción", "mérida", "león", "göteborg", "besançon", "tromsø",
          "łódź", "plzeň", "brașov", "köln", "nîmes", "cádiz", "jaén"]
BAD_AGES = ["treinta", "abc", "N/A", "3O", "?", "cuarenta y dos", "x1"]


def _dirty(s, mode, mask, left, right):
    """Case and whitespace noise of the reference's inputs (spaces only:
    the engine trims spaces, as the reference's strip of CSV fields does).
    `mode` picks the case noise, `mask` the letters mixed case raises."""
    if mode == 1:
        s = s.upper()
    elif mode == 2:
        s = s.title()
    elif mode == 3:
        s = "".join(c.upper() if (mask >> (i % 60)) & 1 else c for i, c in enumerate(s))
    return " " * left + s + " " * right


def _norm_key(nombre, edad, ciudad):
    """The reference's normalization, for the expected fact rows."""
    return (nombre.strip(" ").lower().capitalize(), int(edad.strip(" ")),
            ciudad.strip(" ").lower().title())


def _valid(nombre, edad, ciudad, min_age=25):
    if not nombre or not edad or not ciudad:
        return False
    e = edad.strip(" ")
    return e.isascii() and e.isdigit() and int(e) >= min_age


def gen_etl(out, rng, files, rows, warm_files, warm_rows):
    """CSV files with dirt; about 1/3 of each later file's rows repeat
    earlier files' rows under new noise. Returns, per file in glob order,
    the counts the reference's identities imply and the new fact keys.
    The warm-up files (`warm_rows` rows each) go to `warm/`."""
    weights = 1.0 / np.arange(1, len(CITIES) + 1) ** 1.1
    weights /= weights.sum()
    seen_rows = []

    def make_file(path, dup_share, rows=rows):
        # every random draw of the file up front, in bulk
        city = rng.choice(len(CITIES), size=rows, p=weights)
        first, last = rng.integers(len(FIRST), size=rows), rng.integers(len(LAST), size=rows)
        age = rng.integers(25, 91, size=rows)
        u, v, w = rng.random(rows), rng.random(rows), rng.random(rows)
        dup = rng.integers(max(1, len(seen_rows)), size=rows)
        bad = rng.integers(len(BAD_AGES), size=rows)
        young = rng.integers(1, 25, size=rows)
        mode = rng.integers(4, size=(rows, 2))
        mask = rng.integers(1 << 60, size=(rows, 2))
        pad = rng.integers(3, size=(rows, 5))
        raw = []
        for r in range(rows):
            def d(s, k):
                return _dirty(s, mode[r, k], int(mask[r, k]), pad[r, 2 * k], pad[r, 2 * k + 1])
            a_pad = " " * (pad[r, 4] % 2)
            if seen_rows and u[r] < dup_share:
                n, a, c = seen_rows[dup[r]]
                raw.append((d(n, 0), a_pad + str(a), d(c, 1)))
                continue
            n, a, c = f"{FIRST[first[r]]} {LAST[last[r]]}", int(age[r]), CITIES[city[r]]
            if v[r] < 0.05:
                raw.append((d(n, 0), BAD_AGES[bad[r]], d(c, 1)))
            elif v[r] < 0.10:
                raw.append((d(n, 0), str(int(young[r])), d(c, 1)))
            elif v[r] < 0.12:
                raw.append(("", str(a), d(c, 1)) if w[r] < 0.5 else (d(n, 0), str(a), ""))
            else:
                raw.append((d(n, 0), a_pad + str(a), d(c, 1)))
        with open(path, "w", newline="", encoding="utf-8") as f:
            out_csv = csv.writer(f)
            out_csv.writerow(["nombre", "edad", "ciudad"])
            out_csv.writerows(raw)
        return raw

    os.makedirs(f"{out}/warm", exist_ok=True)
    for i in range(warm_files):
        make_file(f"{out}/warm/warm_{i:03d}.csv", 0.3, warm_rows)
    seen_rows.clear()
    os.makedirs(f"{out}/files", exist_ok=True)
    seen, expect = set(), []
    for i in range(files):
        name = f"batch_{i:04d}.csv"
        raw = make_file(f"{out}/files/{name}", 1 / 3 if i else 0.0)
        valid = [r for r in raw if _valid(*r)]
        keys = {_norm_key(*r) for r in valid}
        new = sorted(keys - seen)
        seen |= keys
        seen_rows.extend(new)
        expect.append({"file": name, "input": len(raw), "valid": len(valid),
                       "rejected": len(raw) - len(valid), "inserted": len(new),
                       "new_keys": new})
    return {"files": expect}


# -------------------------------------------------------------- documents

def _vocab(rng, n):
    syl = ["ka", "lo", "mi", "ra", "te", "su", "no", "vi", "da", "pe", "ri",
           "zo", "ba", "ne", "ti", "gu", "fa", "le", "mo", "ch", "sh", "an", "el"]
    words = set()
    while len(words) < n:
        words.add("".join(syl[j] for j in rng.integers(len(syl), size=int(rng.integers(2, 5)))))
    return sorted(words)


def _zipf_p(n, s=1.1):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def gen_documents(rng, n, vocab, lines=False):
    """sf0.1-shaped documents: (doc_id, text, lang, source, n_chars)."""
    p = _zipf_p(len(vocab))
    lengths = rng.integers(20, 150, size=n)
    picks = rng.choice(len(vocab), size=int(lengths.sum()), p=p)
    texts, k = [], 0
    for L in lengths:
        ws = [vocab[j] for j in picks[k:k + L]]
        k += L
        if lines:
            cut, out = 0, []
            while cut < len(ws):
                step = int(rng.integers(6, 16))
                out.append(" ".join(ws[cut:cut + step]))
                cut += step
            texts.append("\n".join(out))
        else:
            texts.append(" ".join(ws))
    langs = np.array(["en", "es", "fr", "de", "zh"])[
        rng.choice(5, size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    ids = np.arange(n, dtype=np.int64)
    return {"doc_id": ids, "text": texts, "lang": list(langs),
            "source": [f"src{i % 10}" for i in ids]}


def _docs_table(d):
    return pa.table({"doc_id": pa.array(d["doc_id"], pa.int64()),
                     "text": pa.array(d["text"], pa.string()),
                     "lang": pa.array(d["lang"], pa.string()),
                     "source": pa.array(d["source"], pa.string()),
                     "n_chars": pa.array([len(t) for t in d["text"]], pa.int64())})


# ---------------------------------------------------------- curate_corpus

def gen_curate(out, rng, base_docs, expansion, exact_share, near_share,
               boilerplate_share):
    """An `expansion`x corpus from `base_docs` originals: `exact_share` of
    all docs are byte-identical copies (same source), `near_share` are
    copies with ~5% of words replaced, the rest fresh; `boilerplate_share`
    of docs carry their source's template header and footer lines."""
    vocab = _vocab(rng, 3000)
    n = base_docs * expansion
    n_exact, n_near = int(n * exact_share), int(n * near_share)
    n_fresh = n - n_exact - n_near
    d = gen_documents(rng, n_fresh, vocab, lines=True)
    texts, sources = list(d["text"]), list(d["source"])
    templates = {f"src{s}": [f"src{s} header " + " ".join(vocab[j] for j in rng.integers(len(vocab), size=6)),
                             f"src{s} footer " + " ".join(vocab[j] for j in rng.integers(len(vocab), size=6))]
                 for s in range(10)}
    for i in range(n_fresh):
        if rng.random() < boilerplate_share:
            h, f = templates[sources[i]]
            texts[i] = f"{h}\n{texts[i]}\n{f}"
    for _ in range(n_near):
        j = int(rng.integers(n_fresh))
        ws = texts[j].split(" ")
        for k in rng.choice(len(ws), size=max(1, len(ws) // 20), replace=False):
            ws[k] = vocab[rng.integers(len(vocab))]
        texts.append(" ".join(ws))
        sources.append(sources[j])
    originals = rng.integers(n_fresh, size=n_exact)
    for j in originals:
        texts.append(texts[int(j)])
        sources.append(sources[int(j)])
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    sources = [sources[i] for i in order]
    langs = list(np.array(["en", "es", "fr", "de", "zh"])[rng.integers(5, size=n)])
    os.makedirs(out, exist_ok=True)
    pq.write_table(_docs_table({"doc_id": np.arange(n, dtype=np.int64), "text": texts,
                                "lang": langs, "source": sources}),
                   f"{out}/documents.parquet")
    groups = {}
    for i, t in enumerate(texts):
        groups.setdefault((sources[i], t), []).append(i)
    gid, gdoc = [], []
    for g, ids in enumerate(v for v in groups.values() if len(v) > 1):
        gid += [g] * len(ids)
        gdoc += ids
    pq.write_table(pa.table({"doc_id": pa.array(gdoc, pa.int64()),
                             "group_id": pa.array(gid, pa.int64())}),
                   f"{out}/exact_groups.parquet")
    return {"docs": n, "exact_groups": len(set(gid)), "exact_copies": len(gdoc) - len(set(gid))}


# --------------------------------------------------------------- olap_scan

def gen_star(out, rng, lineitem_rows):
    """The TPC-H-shaped tables the olap queries read, at the shape of the
    sf0.1 fixture: 600k lineitem rows at sf0.1."""
    orders_n = lineitem_rows // 4
    cust_n, supp_n, part_n = max(100, orders_n // 10), max(10, orders_n // 150), max(100, orders_n * 2 // 15)

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, end, size):
        base = np.datetime64(start, "D")
        span = (np.datetime64(end, "D") - base).astype(int)
        return (base + rng.integers(0, span + 1, size)).astype("datetime64[us]")

    def tbl(cols, name):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    tbl({"r_regionkey": pa.array(range(5), pa.int32()),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}, "region")
    tbl({"n_nationkey": pa.array(range(25), pa.int32()),
         "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}, "nation")
    tbl({"c_custkey": pa.array(np.arange(cust_n), pa.int64()),
         "c_name": [f"Customer#{i:09d}" for i in range(cust_n)],
         "c_nationkey": pa.array(rng.integers(0, 25, cust_n), pa.int32()),
         "c_acctbal": money(-999.99, 9999.99, cust_n),
         "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                   "MACHINERY"])[rng.integers(0, 5, cust_n)]}, "customer")
    tbl({"s_suppkey": pa.array(np.arange(supp_n), pa.int64()),
         "s_name": [f"Supplier#{i:09d}" for i in range(supp_n)],
         "s_nationkey": pa.array(rng.integers(0, 25, supp_n), pa.int32()),
         "s_acctbal": money(-999.99, 9999.99, supp_n)}, "supplier")
    tbl({"o_orderkey": pa.array(np.arange(orders_n), pa.int64()),
         "o_custkey": pa.array(rng.integers(0, cust_n, orders_n), pa.int64()),
         "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, orders_n)],
         "o_totalprice": money(800.0, 500000.0, orders_n),
         "o_orderdate": pa.array(days("1995-01-01", "2001-08-01", orders_n), pa.timestamp("us")),
         "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                      "5-LOW"])[rng.integers(0, 5, orders_n)]}, "orders")
    n = lineitem_rows
    tbl({"l_orderkey": pa.array(rng.integers(0, orders_n, n), pa.int64()),
         "l_partkey": pa.array(rng.integers(0, part_n, n), pa.int64()),
         "l_suppkey": pa.array(rng.integers(0, supp_n, n), pa.int64()),
         "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
         "l_quantity": rng.integers(1, 51, n).astype(np.float64),
         "l_extendedprice": money(900.0, 105000.0, n),
         "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
         "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
         "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n)],
         "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
         "l_shipdate": pa.array(days("1995-01-02", "2001-11-04", n), pa.timestamp("us"))},
        "lineitem")
    return {"lineitem_rows": n, "orders_rows": orders_n, "customer_rows": cust_n}


# ------------------------------------------------------------------- entry

def generate(workload, out, seed, sizes):
    """Write `workload`'s inputs for `seed` at `sizes` under `out`, with
    `params.json` for the engine side; returns the checks' expectations."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    os.makedirs(out, exist_ok=True)
    params = dict(sizes, seed=seed)
    if workload == "etl_batch":
        expect = gen_etl(out, rng, sizes["files"], sizes["rows"], sizes["warm_files"],
                         sizes["warm_rows"])
    elif workload == "curate_corpus":
        expect = gen_curate(out, rng, sizes["base_docs"], sizes["expansion"],
                            sizes["exact_share"], sizes["near_share"],
                            sizes["boilerplate_share"])
    elif workload == "olap_scan":
        expect = gen_star(out, rng, sizes["lineitem_rows"])
    else:
        raise ValueError(workload)
    with open(f"{out}/params.json", "w") as f:
        json.dump(params, f)
    return expect
