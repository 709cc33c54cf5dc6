"""Seeded input generator for the perfbench workloads.

Every input is a pure function of (family, seed): the same seed gives
byte-identical files, a different seed gives different files. Planted
counts (duplicates; new, changed, deleted and malformed feed records)
are written beside the inputs in ``planted.json``.

Families:
  tables  the sf0.1 schema (TPC-H-ish star schema + events, documents,
          embeddings) at a quarter of its rows, 150k lineitem -- query-mix
          and fuzz-burst.
  corpus  a document corpus with planted exact and near duplicates, plus
          appended delta batches -- curation-train.
  feed    a GISAID-style JSON-lines provision feed, the existing-table
          snapshot for every invocation, FIXTURES-shaped domain tables,
          and delta feeds -- import-refresh.
"""
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator changes so cached inputs are rebuilt.
GEN_VERSION = 1

SIZES = {
    "tables": {"customer": 3750, "supplier": 250, "part": 5000,
               "orders": 37500, "lineitem": 150000, "events": 25000,
               "documents": 1250, "embeddings": 500},
    "corpus": {"docs": 2000, "deltas": 4, "delta_docs": 150,
               "delta_exact_dups": 12, "delta_near_dups": 6,
               "base_exact_dups": 40, "base_near_dups": 20},
    "feed": {"existing": 7500, "feed": 10000, "deltas": 4,
             "delta_new": 500, "delta_changed": 300, "delta_deleted": 200,
             "malformed_frac": 0.015, "fixture_rows": 500},
}

FAMILY_SALT = {"tables": 11, "corpus": 23, "feed": 37}

WORDS = ["join", "value", "fast", "column", "sort", "scan", "small", "customer",
         "merge", "hash", "line", "spark", "part", "batch", "slow", "group",
         "row", "filter", "query", "key", "big", "window", "table", "stream",
         "order", "data", "vector", "agg"]
LANG_MARKERS = {"de": ["der", "und", "die", "das", "ein"],
                "en": ["the", "and", "of", "to", "a"],
                "es": ["el", "los", "y", "las", "una"],
                "fr": ["le", "la", "et", "les", "une"]}
REFERENCE = "ACGTACGTACGTACGTACGTACGTACGTACGT"  # GisaidImport.demoReference
MASKED_SITES = {5}


def rng_for(family, seed, stream=0):
    return np.random.default_rng([FAMILY_SALT[family], int(seed), stream])


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


def days(rng, start, end, n):
    base = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - base).astype(int)
    return base + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


# --------------------------------------------------------------- tables

def gen_documents(rng, n, first_id=0):
    """Random word documents; each carries marker words of its language
    (de/en/es/fr) so the curation language gate classifies it exactly,
    or none ('zh') so the gate drops it."""
    langs = pick(rng, ["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    lens = rng.integers(20, 90, size=n)
    texts = []
    for i in range(n):
        toks = list(pick(rng, WORDS, int(lens[i])))
        lang = langs[i]
        if lang in LANG_MARKERS:
            for _ in range(int(rng.integers(1, 4))):
                toks.insert(int(rng.integers(0, len(toks) + 1)),
                            LANG_MARKERS[lang][int(rng.integers(0, 5))])
        texts.append(" ".join(toks))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    sources = pick(rng, [f"src{i}" for i in range(20)], n)
    return {"doc_id": ids, "text": texts, "lang": list(langs), "source": list(sources)}


def documents_table(d):
    return pa.table({
        "doc_id": pa.array(d["doc_id"], pa.int64()),
        "text": pa.array(d["text"], pa.string()),
        "lang": pa.array(d["lang"], pa.string()),
        "source": pa.array(d["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in d["text"]], pa.int64()),
    })


def gen_tables(seed, out):
    s = SIZES["tables"]
    rng = rng_for("tables", seed)
    tabs = {}
    tabs["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tabs["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = s["customer"]
    tabs["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"], n)})
    n = s["supplier"]
    tabs["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})
    n = s["part"]
    adj = ["large", "hot", "blue", "old", "cold", "small", "red", "green",
           "shiny", "dull", "new", "heavy", "light"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "anvil"]
    tabs["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, adj, n), pick(rng, noun, n))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
        "p_type": pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                             "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)})
    n = s["orders"]
    tabs["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n),
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(days(rng, "1995-01-01", "2001-08-01", n)
                                .astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], n)})
    n = s["lineitem"]
    tabs["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-04", n)
                               .astype("datetime64[us]"), pa.timestamp("us"))})
    n = s["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    tabs["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = s["documents"]
    docs = gen_documents(rng, n)
    # a few planted exact duplicates, tagged like the reference data
    n_dup = n // 600
    for j, i in enumerate(rng.choice(n // 2, size=n_dup, replace=False)):
        docs["text"][n - 1 - j] = docs["text"][int(i)]
    tabs["documents"] = documents_table(docs)
    n = s["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(0, 1, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tabs["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tabs.items():
        write_parquet(t, os.path.join(out, f"{name}.parquet"))
    return {"rows": {k: v.num_rows for k, v in tabs.items()},
            "documents_exact_dups": n_dup}


# --------------------------------------------------------------- corpus

def perturb(rng, text):
    """A near duplicate: one token replaced."""
    toks = text.split(" ")
    toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
    return " ".join(toks)


def gate_lang(text):
    """Replica of the curation language gate for these documents: the
    language whose marker words occur most (ties by name), else 'und'."""
    toks = text.split(" ")
    best, top = "und", 0
    for lang in sorted(LANG_MARKERS):
        c = sum(1 for t in toks if t in LANG_MARKERS[lang])
        if c > top:
            best, top = lang, c
    return best


def plant_dups(rng, docs, lo, hi, n_exact, n_near, pool_hi):
    """Overwrite rows [lo, hi) tail with copies of earlier texts; returns
    the ids made exact and near duplicates."""
    exact, near = [], []
    rows = rng.choice(np.arange(lo, hi), size=n_exact + n_near, replace=False)
    for j, r in enumerate(sorted(int(x) for x in rows)):
        src = int(rng.integers(0, min(pool_hi, r)))
        if j < n_exact:
            docs["text"][r - lo] = docs["pool"][src]
            exact.append(r)
        else:
            docs["text"][r - lo] = perturb(rng, docs["pool"][src])
            near.append(r)
    return exact, near


def gen_corpus(seed, out):
    s = SIZES["corpus"]
    rng = rng_for("corpus", seed)
    base = gen_documents(rng, s["docs"])
    base["pool"] = base["text"]
    exact, near = plant_dups(rng, base, 0, s["docs"], s["base_exact_dups"],
                             s["base_near_dups"], s["docs"])
    write_parquet(documents_table(base),
                  os.path.join(out, "base", "documents.parquet", "part-00000.parquet"))
    pool = list(base["text"])
    batches = [{"docs": s["docs"], "exact_dups": exact, "near_dups": near}]
    next_id = s["docs"]
    for k in range(1, s["deltas"] + 1):
        d = gen_documents(rng, s["delta_docs"], first_id=next_id)
        ex, nr = plant_dups(rng, {"text": d["text"], "pool": pool}, next_id,
                            next_id + s["delta_docs"], s["delta_exact_dups"],
                            s["delta_near_dups"], len(pool))
        write_parquet(documents_table(d),
                      os.path.join(out, f"delta_{k}", f"part-{k:05d}.parquet"))
        pool.extend(d["text"])
        batches.append({"docs": s["delta_docs"], "exact_dups": ex, "near_dups": nr})
        next_id += s["delta_docs"]
    # expected gate survivors after each batch (cumulative): the
    # language gate replica; quality is far above the floor by
    # construction (>= 20 tokens, <= 3 stopwords)
    gated, total = [], 0
    for b in range(len(batches)):
        total += batches[b]["docs"]
        gated.append(sum(1 for t in pool[:total] if gate_lang(t) != "und"))
    ends = set(np.cumsum([b["docs"] for b in batches]).tolist())
    exact_gated = []
    seen, count = set(), 0
    for i, t in enumerate(pool):
        if gate_lang(t) != "und":
            if t in seen:
                count += 1
            seen.add(t)
        if i + 1 in ends:
            exact_gated.append(count)
    return {"batches": batches, "gated": gated, "exact_dups_gated": exact_gated}


# ----------------------------------------------------------------- feed

def mutate(rng, m):
    seq = list(REFERENCE)
    positions = rng.choice([p for p in range(1, 33) if p not in MASKED_SITES],
                           size=m, replace=False)
    for p in positions:
        seq[p - 1] = [b for b in "ACGT" if b != REFERENCE[p - 1]][int(rng.integers(0, 3))]
    return "".join(seq), int(m)


def new_record(rng, num, ours_every=9):
    ours = num % ours_every == 0
    seq, m = mutate(rng, int(rng.integers(0, 4)))
    return {
        "id": f"EPI_ISL_{num}",
        "strain": (f"Switzerland/ZH-ETHZ-{100000 + num}/2021" if ours
                   else f"Germany/BY-{num}/2021"),
        "ethid": 100000 + num if ours else None,
        "date": str(np.datetime64("2021-03-01") + int(rng.integers(0, 31))),
        "lineage": ["B.1.1.7", "BA.1", "B.1.617.2", "BA.2"][int(rng.integers(0, 4))],
        "seq": seq, "muts": m,
        "age": str(int(rng.integers(0, 95))) if rng.random() > 0.1 else "?",
        "loc": ("Europe / Switzerland / Zurich / Zurich" if ours
                else "Europe / Germany / Bavaria / Munich"),
    }


def feed_line(r):
    return json.dumps({
        "covv_accession_id": r["id"], "covv_virus_name": r["strain"],
        "covv_collection_date": r["date"], "covv_location": r["loc"],
        "covv_patient_age": r["age"], "covv_gender": "Female",
        "covv_lineage": r["lineage"], "covv_subm_date": "2021-04-02",
        "sequence": r["seq"]}, separators=(",", ":"))


def existing_table(records):
    return pa.table({
        "gisaid_epi_isl": pa.array([r["id"] for r in records], pa.string()),
        "strain": pa.array([r["strain"] for r in records], pa.string()),
        "date": pa.array([dt.date.fromisoformat(r["date"]) for r in records], pa.date32()),
        "pango_lineage": pa.array([r["lineage"] for r in records], pa.string()),
        "seq_aligned": pa.array([r["seq"] for r in records], pa.string())})


def fixtures(rng, n):
    """FIXTURES-shaped domain tables the refresh reads besides the
    import's own output (schemas of SpectrumRefresh's required inputs)."""
    d = lambda k: dt.date(2021, 3, 1) + dt.timedelta(days=int(k))
    eth = [100000 + int(x) for x in rng.integers(0, 9 * n, n)]
    t = {}
    t["consensus_sequence"] = pa.table({
        "sample_name": [f"{e}_p{i % 7}_{chr(65 + i % 8)}{i % 12 + 1}" for i, e in enumerate(eth)],
        "ethid": pa.array(eth, pa.int64()),
        "number_n": pa.array(rng.integers(0, 500, n), pa.int32()),
        "fail_reason": pa.array([("degraded" if x < 0.1 else None) for x in rng.random(n)],
                                pa.string()),
        "pango_lineage": pick(rng, ["B.1.1.7", "B.1.617.2", "BA.1"], n),
        "sequencing_batch": [f"2021020{x}_HWL33DRXX" for x in rng.integers(0, 5, n)]})
    ids = sorted(set(eth))[: n // 4]
    t["sequence_identifier"] = pa.table({
        "ethid": pa.array(ids, pa.int64()),
        "sample_name": [f"{e}_p0_A1" for e in ids],
        "gisaid_id": pa.array([None] * len(ids), pa.string())})
    vt = sorted(set(eth))
    t["viollier_test"] = pa.table({
        "ethid": pa.array(vt, pa.int64()),
        "order_date": pa.array([d(x) for x in rng.integers(0, 28, len(vt))], pa.date32()),
        "canton": pick(rng, ["ZH", "BE", "VS", "GE"], len(vt)),
        "city": pick(rng, ["Zurich", "Bern", "Sion", "Geneva"], len(vt)),
        "zip_code": [str(8000 + int(x)) for x in rng.integers(0, 100, len(vt))],
        "sample_number": pa.array(np.arange(5000, 5000 + len(vt)), pa.int64())})
    t["nuc_mutations"] = pa.table({
        "strain": [f"Germany/BY-{int(x)}/2021" for x in rng.integers(0, 4 * n, n)],
        "position": pa.array(913 + rng.integers(0, 100, n), pa.int32()),
        "mutation": pick(rng, ["T", "A", "G"], n)})
    t["aa_mutations"] = pa.table({
        "strain": [f"Germany/BY-{int(x)}/2021" for x in rng.integers(0, 4 * n, n)],
        "aa_mutation": pick(rng, ["S:N501Y", "S:D614G", "N:R203K"], n)})
    t["ext_owid_global_cases"] = pa.table({
        "date": pa.array([d(k) for k in range(28) for _ in (0, 1)], pa.date32()),
        "country": ["Switzerland", "Germany"] * 28,
        "new_cases": pa.array(rng.integers(0, 900, 56), pa.int64())})
    t["spectrum_country"] = pa.table({
        "region": ["Europe", "Europe"], "country": ["Switzerland", "Germany"],
        "iso_code": ["Switzerland", "Germany"], "name": ["Switzerland", "Germany"]})
    t["bag_dashboard_meldeformular"] = pa.table({
        "fall_dt": pa.array([d(x) for x in rng.integers(0, 28, n)], pa.date32()),
        "ktn": pick(rng, ["ZH", "BE", "VS"], n),
        "altersjahr": pa.array(rng.integers(0, 95, n), pa.int32()),
        "comment": pa.array([("auftraggeber_armee=TRUE" if x < 0.08 else None)
                             for x in rng.random(n)], pa.string())})
    keys = sorted({(int(a), c, g) for a, c, g in zip(
        rng.integers(0, 28, n // 2), pick(rng, ["ZH", "TI", "GR"], n // 2),
        pick(rng, ["0 - 9", "10 - 19", "20 - 29", "80+"], n // 2))})
    t["bag_test_numbers"] = pa.table({
        "date": pa.array([d(a) for a, _, _ in keys], pa.date32()),
        "canton": [c for _, c, _ in keys], "age_group": [g for _, _, g in keys],
        "negative_tests": pa.array(rng.integers(1, 41, len(keys)), pa.int32())})
    return t


def gen_feed(seed, out):
    """Invocation 0 is the cold import against a seeded `existing`
    snapshot; invocation k >= 1 is a delta feed against the state the
    previous import left. Malformed records (empty sequence) carry new
    ids, so they count as failed and delete nothing."""
    s = SIZES["feed"]
    rng = rng_for("feed", seed)
    n_exist, n_feed = s["existing"], s["feed"]
    # existing ids 1..E; the cold feed carries ids D+1..F, so 1..D are
    # deleted, D+1..E overlap (some changed), E+1..F are new
    n_del0 = n_exist // 6
    recs = {i: new_record(rng, i) for i in range(1, n_feed + n_del0 + 1)}
    existing = [recs[i] for i in range(1, n_exist + 1)]
    feed = [dict(recs[i]) for i in range(n_del0 + 1, n_feed + n_del0 + 1)]
    for r in feed:
        num = int(r["id"].split("_")[-1])
        if num <= n_exist and rng.random() < 0.1:
            r["lineage"] = "XBB.1.5"
    next_num = n_feed + n_del0 + 1
    os.makedirs(out, exist_ok=True)
    invocations, state_prev = [], {r["id"]: r for r in existing}
    mut_rows = {}  # id -> mutation rows currently in the mutation table
    fx = fixtures(rng, s["fixture_rows"])
    for name, t in fx.items():
        write_parquet(t, os.path.join(out, "fixtures", name, "part-00000.parquet"))
    idents = set(fx["sequence_identifier"].column("ethid").to_pylist())
    for k in range(s["deltas"] + 1):
        if k > 0:
            cur = [dict(r) for r in state_prev.values()]
            order = rng.permutation(len(cur))
            dels = set(int(x) for x in order[: s["delta_deleted"]])
            chg = set(int(x) for x in order[s["delta_deleted"]:
                                            s["delta_deleted"] + s["delta_changed"]])
            feed = []
            for i, r in enumerate(cur):
                if i in dels:
                    continue
                if i in chg:
                    r["lineage"] = "XBB.1.5" if r["lineage"] != "XBB.1.5" else "BA.2"
                feed.append(r)
            for _ in range(s["delta_new"]):
                feed.append(new_record(rng, next_num))
                next_num += 1
        n_bad = max(1, int(len(feed) * s["malformed_frac"]))
        bad = []
        for _ in range(n_bad):
            r = new_record(rng, next_num)
            next_num += 1
            r["seq"] = ""
            bad.append(r)
        lines = [feed_line(r) for r in feed + bad]
        order = rng.permutation(len(lines))
        with open(os.path.join(out, f"feed_{k}.json"), "w") as f:
            f.write("\n".join(lines[i] for i in order) + "\n")
        write_parquet(existing_table(list(state_prev.values())),
                      os.path.join(out, f"existing_{k}", "part-00000.parquet"))
        new_ids = {r["id"] for r in feed} - set(state_prev)
        changed = {r["id"] for r in feed if r["id"] in state_prev and (
            r["lineage"], r["seq"], r["strain"], r["date"]) != (
            state_prev[r["id"]]["lineage"], state_prev[r["id"]]["seq"],
            state_prev[r["id"]]["strain"], state_prev[r["id"]]["date"])}
        feed_ids = {r["id"] for r in feed} | {r["id"] for r in bad}
        deleted = set(state_prev) - feed_ids
        processed_ids = new_ids | changed
        for i in list(mut_rows):
            if i in processed_ids or i in deleted:
                del mut_rows[i]
        for r in feed:
            if r["id"] in processed_ids:
                mut_rows[r["id"]] = r["muts"]
        idents |= {r["ethid"] for r in feed if r["ethid"] is not None}
        invocations.append({
            "processed": len(feed) + len(bad), "failed": len(bad),
            "deleted": len(deleted), "new": len(new_ids), "changed": len(changed),
            "sequence_rows": len(feed), "mutation_rows": sum(mut_rows.values()),
            "identifier_rows": len(idents)})
        state_prev = {r["id"]: r for r in feed}
    return {"invocations": invocations, "reference": REFERENCE}


GENERATORS = {"tables": gen_tables, "corpus": gen_corpus, "feed": gen_feed}


def generate(family, seed, out):
    """Generate `family` for `seed` under `out` (replaced if present)
    and return the planted counts, also written to out/planted.json."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    planted = GENERATORS[family](seed, out)
    planted.update({"family": family, "seed": int(seed), "gen_version": GEN_VERSION,
                    "sizes": SIZES[family]})
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump(planted, f, indent=1, sort_keys=True)
    return planted


def ensure(family, seed, root):
    """Cached generate: reuse root/<family>-<key>-<seed> when complete;
    the key changes with the generator version and the family's sizes."""
    key = hashlib.sha256(json.dumps([GEN_VERSION, SIZES[family]], sort_keys=True)
                         .encode()).hexdigest()[:10]
    out = os.path.join(root, f"{family}-{key}-{seed}")
    marker = os.path.join(out, "planted.json")
    if not os.path.exists(marker):
        tmp = out + ".tmp"
        generate(family, seed, tmp)
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(tmp, out)
    with open(marker) as f:
        return out, json.load(f)
