"""Output checks, run after the program has exited (outside every timed
window). Each returns a list of (check name, ok, detail)."""
import glob
import hashlib
import json
import math
import os

import duckdb
import pandas as pd

TMP_DIR = os.path.join(".bench_build", "perfbench", "duckdb_tmp")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _same(a, b):
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b or str(a) == str(b)


def compare_frames(got, exp):
    """The gate's comparison: columns sorted by name, rows sorted by all
    values, floats to rel 1e-9. Returns None when equal, else why."""
    got, exp = _canon(got), _canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns differ: {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"row count {len(got)} vs oracle {len(exp)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not _same(a, b):
                return f"col {c} row {i}: {a!r} vs oracle {b!r}"
    return None


def _connect(threads):
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute(f"SET temp_directory='{os.path.abspath(TMP_DIR)}'")
    return con


def check_queries(inputs, work, ops, threads):
    """Every op's result (written by the program's setup pass) against
    its DuckDB oracle SQL on the same generated tables."""
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    con = _connect(threads)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    out = []
    for name in ops:
        res = os.path.join(work, "results", name)
        if name not in oracle:
            out.append((f"oracle:{name}", False, "no oracle SQL"))
            continue
        if not os.path.isdir(res):
            out.append((f"oracle:{name}", False, "no result written"))
            continue
        try:
            got = pd.read_parquet(res)
            exp = con.execute(oracle[name]).df()
            why = compare_frames(got, exp)
        except Exception as e:  # a failing oracle or reader is a failed check
            why = f"{type(e).__name__}: {e}"
        out.append((f"oracle:{name}", why is None, why or f"{len(got)} rows"))
    con.close()
    return out


def data_files(path):
    return sorted(p for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
                  if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_")))


def dir_bytes(path):
    return sum(os.path.getsize(p) for p in data_files(path))


def table_rows(con, path):
    if not data_files(path):
        return 0
    return con.execute(f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]


def table_digest(con, path):
    """Order-independent content digest of a parquet table."""
    if not data_files(path):
        return "empty"
    rows = con.execute(f"SELECT * FROM read_parquet('{path}/**/*.parquet')").fetchall()
    return hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()


def _chain_outcomes(chains, jobs):
    out = []
    for c in chains:
        want = "skipped" if c["kind"] == "poll" else "ran"
        bad = {j: t for j, t in c["outcomes"].items() if t != want}
        ok = set(c["outcomes"]) == set(jobs) and not bad
        out.append((f"outcomes:{c['kind']}{c['k']}", ok,
                    "all " + want if ok else f"want {want}: {c['outcomes']}"))
    return out


def check_import(chains, dirs, planted, threads):
    """The import chain's runs and output tables against the planted
    feed counts; returns (checks, output digest, last invocation)."""
    inv = planted["invocations"]
    out = _chain_outcomes(chains, ["gisaid_import", "quality_gate", "spectrum_refresh"])
    for c in chains:
        if c["kind"] == "poll":
            continue
        want = {k: inv[c["k"]][k] for k in ("processed", "failed", "deleted")}
        out.append((f"report:{c['kind']}{c['k']}", c["report"] == want,
                    f"got {c['report']} want {want}"))
    last = max(c["k"] for c in chains)
    exp = inv[last]
    tables = dirs["tables"]
    con = _connect(threads)
    for table, key in (("gisaid_api_sequence", "sequence_rows"),
                       ("gisaid_api_sequence_mutation", "mutation_rows"),
                       ("sequence_identifier", "identifier_rows")):
        n = table_rows(con, os.path.join(tables, table))
        out.append((f"rows:{table}", n == exp[key], f"{n} rows, planted {exp[key]}"))
    seq = os.path.join(tables, "gisaid_api_sequence")
    if data_files(seq):
        d = con.execute(f"SELECT count(*) - count(DISTINCT gisaid_epi_isl) "
                        f"FROM read_parquet('{seq}/**/*.parquet')").fetchone()[0]
        out.append(("unique:gisaid_epi_isl", d == 0, f"{d} duplicate ids"))
    views = dirs["views"]
    names = sorted(os.listdir(views)) if os.path.isdir(views) else []
    names = [n for n in names if not n.startswith(("_", "."))]
    out.append(("views:present", len(names) >= 10, f"{len(names)} views"))
    digest = {n: table_digest(con, os.path.join(tables, n)) for n in
              ("gisaid_api_sequence", "gisaid_api_sequence_mutation", "sequence_identifier")}
    digest.update({n: table_digest(con, os.path.join(views, n)) for n in names})
    con.close()
    return out, digest, last


def check_curation(chains, dirs, planted, threads):
    """The curation chain's runs and outputs against the planted corpus
    counts; returns (checks, output digest, last invocation)."""
    out = _chain_outcomes(chains, ["curate", "tokenizer", "mix", "export"])
    last = max(c["k"] for c in chains)
    con = _connect(threads)
    curated = dirs["curated"]
    ids = [r[0] for r in con.execute(
        f"SELECT doc_id FROM read_parquet('{curated}/**/*.parquet')").fetchall()] \
        if data_files(curated) else []
    dups = set()
    for b in planted["batches"][: last + 1]:
        dups.update(b["exact_dups"])
    present = sorted(dups.intersection(ids))
    out.append(("curated:exact_dups_removed", not present,
                f"{len(present)} planted exact duplicates kept" if present else
                f"{len(dups)} planted exact duplicates absent"))
    gated = planted["gated"][last]
    hi = gated - planted["exact_dups_gated"][last]
    near = sum(len(b["near_dups"]) for b in planted["batches"][: last + 1])
    lo = hi - near - max(2, gated // 200)
    out.append(("curated:count", lo <= len(ids) <= hi and len(set(ids)) == len(ids),
                f"{len(ids)} docs, expected {lo}..{hi} (gate survivors {gated})"))
    mix = table_rows(con, dirs["mix"])
    out.append(("mix:budget", 0 < mix <= 60, f"{mix} docs admitted, budget 60"))
    tok = table_rows(con, dirs["tokenizer"])
    out.append(("tokenizer:rows", tok > 0, f"{tok} vocab rows"))
    shards = data_files(dirs["shards"])
    out.append(("export:shards", len(shards) > 0, f"{len(shards)} shard files"))
    digest = {n: table_digest(con, dirs[n]) for n in ("curated", "tokenizer", "mix")}
    con.close()
    return out, digest, last


def check_digest(cache_dir, key, digest):
    """First-run fingerprint: `key` names the generated inputs and the
    last invocation a run reached; the first run in this checkout with
    that key records its output digest, every later one compares."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, key + ".json")
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump(digest, f, sort_keys=True)
        return [("fingerprint:first_run", True, "recorded")]
    first = json.load(open(path))
    diff = sorted(k for k in set(first) | set(digest) if first.get(k) != digest.get(k))
    return [("fingerprint:first_run", not diff,
             "matches first run" if not diff else f"differs in {diff}")]
