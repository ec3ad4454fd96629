"""Independent expected answers, computed untimed after the run.

- surface_sf01 and corpus_10x: each query's DuckDB oracle (the SQL the
  program registers beside the query) over the same generated parquet
  inputs, canonicalised the way tools/check_oracle.py does it (columns
  sorted by name, rows sorted, values compared to 1e-9, integer/float kinds
  must agree). Connected-components oracles, whose recursive CTE does not
  finish at corpus scale, are checked with tools/check_cc_witness.py's
  union-find witness instead. Answers are cached beside the inputs, keyed
  by the oracle SQL.
- crane_stream: the final word-count table must equal a DuckDB word count
  over the arrival files, and the ingest leg must hold StreamSoak's
  invariants (one store version per trigger, every copy paired with its
  source document, every mutated copy present as a pair with jaccard < 1).

Any miss counts in `wrong_outputs`.
"""
import contextlib
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _tools():
    """The repository's own oracle tools (canonicalisation, CC witness)."""
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)
    import check_oracle
    import check_cc_witness
    return check_oracle, check_cc_witness


def canon(df):
    """check_oracle's canonical form: columns by name, strings for object
    columns, rows sorted."""
    return _tools()[0].canon(df)


def same(got, exp):
    """None when the two canonical frames agree, else the reason."""
    if set(got.columns) != set(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if got.shape != exp.shape:
        return f"shape {got.shape} vs {exp.shape}"
    for c in got.columns:
        gk, ek = got[c].dtype.kind, exp[c].dtype.kind
        if (gk in "if") != (ek in "if") or (gk == "i") != (ek == "i"):
            return f"dtype of {c}: {got[c].dtype} vs {exp[c].dtype}"
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-9)
    except AssertionError as e:
        return str(e).splitlines()[-1][:200]
    return None


def connect(sfdir):
    co = _tools()[0]
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in co.TABLES:
        if not os.path.exists(os.path.join(sfdir, f"{t}.parquet")):
            continue  # the workload generated only the tables it reads
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{co.table_pattern(sfdir, t)}')")
    return con


def doc_texts(sfdir):
    return [r[0] for r in duckdb.sql(
        f"SELECT text FROM read_parquet('{sfdir}/documents.parquet') ORDER BY doc_id").fetchall()]


def count_docs(d):
    return duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{d}/corpus/documents.parquet/*.parquet')").fetchone()[0]


def expected(con, cache_dir, name, sql):
    """The oracle's answer as a frame, cached by a hash of its SQL."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    f = os.path.join(cache_dir, f"{name}-{key}.parquet")
    if os.path.exists(f):
        return pd.read_parquet(f)
    df = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_parquet(f + ".tmp")
    os.replace(f + ".tmp", f)
    return df


def check_queries(rec, sfdir, run_dir, cache_dir):
    con = connect(sfdir)
    misses = {}
    for name, sql in sorted(rec["oracle_sql"].items()):
        files = glob.glob(os.path.join(run_dir, "results", name, "*.parquet"))
        if not files or not sql:
            misses[name] = "no output" if not files else "no oracle"
            continue
        if _tools()[1].REACH_RE.search(sql):
            # recursive CC oracle: union-find witness plus replay
            with contextlib.redirect_stdout(sys.stderr):
                ok = _tools()[1].check_one(con, name, sql, os.path.join(run_dir, "results"))
            if not ok:
                misses[name] = "cc witness check failed"
            continue
        got = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
        try:
            exp = canon(expected(con, cache_dir, name, sql))
        except Exception as e:  # an oracle that cannot run is a miss, not a pass
            misses[name] = f"oracle error: {e}"
            continue
        why = same(got, exp)
        if why:
            misses[name] = why
    return misses


def check_stream(rec, d, run_dir):
    misses = {}
    feed = os.path.join(d, "feed")
    ol, cl = rec["open_loop"], rec["closed_loop"]
    files = sorted(glob.glob(os.path.join(feed, "lines", "*.txt")))[:ol["files"]]
    got = glob.glob(os.path.join(run_dir, "results", "wordcount", "*.parquet"))
    con = duckdb.connect()
    if not got:
        misses["wordcount"] = "no output"
    else:
        exp = canon(con.execute(
            "SELECT word, count(*) AS cnt FROM (SELECT unnest(string_split(line, ' ')) AS word "
            "FROM (SELECT unnest(string_split(rtrim(content, chr(10)), chr(10))) AS line "
            f"FROM read_text({files!r}))) GROUP BY word").fetchdf())
        why = same(canon(con.execute(f"SELECT * FROM read_parquet({got!r})").fetchdf()), exp)
        if why:
            misses["wordcount"] = why
    with open(os.path.join(feed, "truth.json")) as fh:
        truth = json.load(fh)
    if sorted(cl["versions"]) != list(range(1, cl["files"] + 1)):
        misses["ingest_versions"] = f"{len(cl['versions'])} versions for {cl['files']} triggers"
    n_docs = cl["files"] * truth["batch_lines"]
    copies = [c for c in truth["copies"] if c[1] < truth["id_base"] + n_docs]
    corpus = dict(enumerate(doc_texts(os.path.join(d, "sf0.1"))))
    docs = sorted(glob.glob(os.path.join(feed, "docs", "*.parquet")))[:cl["files"]]
    arrivals = dict(con.execute(f"SELECT doc_id, text FROM read_parquet({docs!r})").fetchall())
    pf = glob.glob(os.path.join(run_dir, "results", "ingest_pairs", "*.parquet"))
    pairs = con.execute(f"SELECT corpus_doc, new_doc, jaccard FROM read_parquet({pf!r})"
                        ).fetchall() if pf else []
    # precision: every reported pair carries its exact Jaccard, at or above 0.5
    bad = [p for p in pairs if p[2] < 0.5 or abs(
        jaccard(corpus[p[0]], arrivals[p[1]]) - p[2]) > 1e-6]
    if bad or len(set((a, b) for a, b, _ in pairs)) != len(pairs):
        misses["ingest_pairs"] = f"{len(bad)} of {len(pairs)} pairs with a wrong jaccard or repeated"
    found = {(a, b) for a, b, _ in pairs}
    # an exact copy has its source's signature, so LSH cannot miss it
    lost = [c for c in copies if not c[2] and (c[0], c[1]) not in found]
    if lost:
        misses["ingest_copies"] = f"{len(lost)} exact copies not paired with their source"
    # StreamSoak's near-duplicate invariant, in its own form: at least as
    # many jaccard < 1 pairs on mutated documents as there are mutated
    # documents. Per document MinHash-LSH (4 bands of 4 rows) finds a pair
    # at jaccard 0.75 with probability ~0.78, so recall is reported, not
    # required.
    mutated = {c[1]: c[0] for c in copies if c[2]}
    near = [(a, b) for a, b, j in pairs if j < 1.0 and b in mutated]
    if not mutated or len(near) < len(mutated):
        misses["ingest_mutated"] = f"{len(near)} near pairs for {len(mutated)} mutated copies"
    recall = (sum(1 for b, a in mutated.items() if (a, b) in found) / len(mutated)
              if mutated else 0.0)
    return misses, {"mutated_recall": recall, "ingest_pairs": len(pairs)}


def shingles(text):
    """Dedup.shingles: distinct 3-grams of the single-space tokens."""
    t = text.split(" ")
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return round(len(sa & sb) / len(sa | sb), 6)


def check(workload, rec, d, run_dir):
    extra = {}
    if workload == "crane_stream":
        misses, extra = check_stream(rec, d, run_dir)
        n = 5
    else:
        sfdir = os.path.join(d, "sf0.1" if workload == "surface_sf01" else "corpus")
        misses = check_queries(rec, sfdir, run_dir, os.path.join(d, "expected"))
        n = len(rec["oracle_sql"])
    for k, v in misses.items():
        print(f"perfbench: WRONG {k}: {v}", file=sys.stderr)
    return dict(extra, checked=n, wrong_outputs=len(misses), misses=misses)
