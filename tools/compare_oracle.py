#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify's parquet
outputs against the DuckDB oracle SQL and diff. Usage:
  python3 tools/compare_oracle.py [--skip-quadratic] <sfDir> <verifyOutDir>

--skip-quadratic drops the oracles whose DuckDB side is a full-corpus
all-pairs join (intractable past sf0.01: >10 min each at 5k docs). Use it
for the sf0.1 audit sweep; the skipped queries' large-SF semantics are
pinned by the Spark-side recall cross-checks in OperatorsSpec instead.
"""
import sys, json, glob, math
import duckdb

# Full-corpus all-pairs oracle SQL (documents x documents or
# embeddings x embeddings with no pre-limit) — O(n^2) list_intersect /
# dot-product work in DuckDB. dedup_ngram_jaccard (doc_id<50),
# dedup_survivors (<200) and dedup_incremental (batch x corpus) stay in.
QUADRATIC = {"dedup_stream_near",
             "dedup_minhash", "dedup_simhash", "dedup_clusters",
             "dedup_clusters_incr",
             "dedup_embedding", "emb_near_pairs", "emb_clusters",
             "pipe_split_leakage"}



def zero_sign_differs(a, b):
    """True when equal values differ only in the sign of a zero somewhere
    inside (-0.0 == +0.0 in Python, but the driver's hash tells them
    apart)."""
    if isinstance(a, float) and isinstance(b, float):
        return a == b and math.copysign(1, a) != math.copysign(1, b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return any(zero_sign_differs(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return any(zero_sign_differs(a[k], b[k]) for k in a.keys() & b.keys())
    return False


argv = sys.argv[1:]
skip_quadratic = "--skip-quadratic" in argv
# --present-only: check only queries with a dump dir (local iteration on
# a filtered Verify run; the full sweep still uses the default)
present_only = "--present-only" in argv
# --allow-stale: skip the dump-freshness guard (e.g. comparing a dump
# from a DIFFERENT deliberately-chosen tree)
allow_stale = "--allow-stale" in argv
argv = [a for a in argv
        if a not in ("--skip-quadratic", "--present-only", "--allow-stale")]
sfdir, outdir = argv[0], argv[1]

# ---- provenance stamp + staleness guard (r16; the stale-log collision
# the r14 AND r15 judges both hit: builder and judge sessions share /tmp
# dump paths, so an existing "ALL OK" log can certify the WRONG HEAD).
# Every run prints WHAT it compared; a dump older than the newest main
# source file fails loudly instead of certifying.
import os, subprocess, datetime
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
try:
    sha = subprocess.run(["git", "-C", repo, "rev-parse", "--short", "HEAD"],
                         capture_output=True, text=True).stdout.strip() or "?"
    dirty = subprocess.run(["git", "-C", repo, "status", "--porcelain"],
                           capture_output=True, text=True).stdout.strip()
    sha += "+dirty" if dirty else ""
except Exception:
    sha = "?"
def _iso(ts):
    return datetime.datetime.fromtimestamp(ts).strftime("%Y-%m-%d %H:%M:%S")
dump_mtime = os.path.getmtime(f"{outdir}/oracle_sql.json") \
    if os.path.exists(f"{outdir}/oracle_sql.json") else 0.0
src_mtime, src_newest = 0.0, ""
for root, _, fs in os.walk(os.path.join(repo, "src", "main")):
    for f in fs:
        m = os.path.getmtime(os.path.join(root, f))
        if m > src_mtime:
            src_mtime, src_newest = m, os.path.join(root, f)
print(f"[compare] repo={sha} sfdir={sfdir} dump={outdir}")
print(f"[compare] dump oracle_sql.json mtime={_iso(dump_mtime)}; "
      f"newest src/main mtime={_iso(src_mtime)} ({os.path.relpath(src_newest, repo)}); "
      f"now={_iso(datetime.datetime.now().timestamp())}")
# r17 (r16 ADVICE): prefer SHA identity over mtimes — a git checkout
# rewrites mtimes of unchanged files and would spuriously reject a
# still-valid dump. If the dump carries Verify's provenance stamp and
# both trees are the SAME CLEAN commit, the dump is fresh by identity.
sha_fresh = False
meta_path = f"{outdir}/_verify_meta.json"
if os.path.exists(meta_path):
    try:
        meta = json.load(open(meta_path))
        full_sha = subprocess.run(["git", "-C", repo, "rev-parse", "HEAD"],
                                  capture_output=True, text=True
                                  ).stdout.strip()
        cur_dirty = bool(dirty)
        if (meta.get("sha") == full_sha and full_sha
                and not meta.get("dirty") and not cur_dirty):
            sha_fresh = True
            print(f"[compare] dump stamped with the SAME clean commit "
                  f"({full_sha[:12]}) — fresh by identity")
        else:
            print(f"[compare] stamp sha={str(meta.get('sha'))[:12]} "
                  f"dirty={meta.get('dirty')} vs repo {full_sha[:12]} "
                  f"dirty={cur_dirty} — falling back to the mtime guard")
    except Exception as e:
        print(f"[compare] stamp unreadable ({e}) — mtime guard applies")
if dump_mtime and src_mtime > dump_mtime and not allow_stale \
        and not sha_fresh:
    print("[compare] STALE-DUMP: the dump predates the newest main source "
          "file — re-run graft.Verify before comparing (or pass "
          "--allow-stale to compare a deliberately-chosen older tree)")
    sys.exit(2)
con = duckdb.connect()
con.sql("SET TimeZone='UTC'")
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = 0

# rows-only queries (no oracle SQL): mirror the driver's weaker check —
# the dump must exist and be non-empty, so a pipeline regression can't
# hide behind the absence of an oracle
import os
dumped = sorted(d for d in os.listdir(outdir)
                if os.path.isdir(f"{outdir}/{d}") and d not in oracle)
for name in dumped:
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    n = con.sql(f"SELECT count(*) FROM '{outdir}/{name}/*.parquet'").fetchone()[0] if files else 0
    if n > 0:
        print(f"{name:24s} OK rows-only rows={n}")
    else:
        print(f"{name:24s} EMPTY-ROWS-ONLY"); fails += 1
skipped = 0
for name in sorted(oracle):
    sql = oracle[name]
    if skip_quadratic and name in QUADRATIC:
        print(f"{name:24s} SKIP quadratic-oracle"); skipped += 1; continue
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        if present_only:
            skipped += 1; continue
        print(f"{name:24s} NO-SPARK-OUTPUT"); fails += 1; continue
    try:
        got = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").fetchall()
        gcols = [d[0] for d in con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet' LIMIT 0").description]
        exp = con.sql(sql).fetchall()
        ecols = [d[0] for d in con.sql(f"SELECT * FROM ({sql}) LIMIT 0").description]
    except Exception as e:
        print(f"{name:24s} ORACLE-ERROR {e}"); fails += 1; continue
    if sorted(gcols) != sorted(ecols):
        print(f"{name:24s} SCHEMA-MISMATCH spark={gcols} oracle={ecols}"); fails += 1; continue
    # driver sorts columns by name
    gperm = [gcols.index(c) for c in sorted(gcols)]
    eperm = [ecols.index(c) for c in sorted(ecols)]
    got = [tuple(r[i] for i in gperm) for r in got]
    exp = [tuple(r[i] for i in eperm) for r in exp]
    if len(got) != len(exp):
        print(f"{name:24s} ROWCOUNT {len(got)} vs {len(exp)}"); fails += 1; continue
    maxrel = 0.0; bad = None; exact = True
    for rg, re_ in zip(got, exp):
        for a, b in zip(rg, re_):
            if a == b and not zero_sign_differs(a, b): continue
            exact = False
            if isinstance(a, float) and isinstance(b, float) and a != b:
                if math.isnan(a) and math.isnan(b): continue
                rel = abs(a-b) / max(abs(a), abs(b), 1e-300)
                if rel > maxrel: maxrel, bad = rel, (a, b)
            else:
                print(f"{name:24s} VALUE-MISMATCH {a!r} vs {b!r}"); fails += 1; bad="hard"; break
        if bad == "hard": break
    if bad == "hard": continue
    if exact:
        print(f"{name:24s} OK exact rows={len(got)}")
    elif maxrel < 1e-9:
        print(f"{name:24s} OK fp-only maxrel={maxrel:.2e} rows={len(got)}")
    else:
        print(f"{name:24s} FP-DIFF maxrel={maxrel:.2e} {bad}"); fails += 1
suffix = f" (skipped {skipped} quadratic)" if skipped else ""
print(f"\n{'FAILURES: %d' % fails if fails else 'ALL OK'}{suffix}")
sys.exit(1 if fails else 0)
