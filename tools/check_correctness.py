#!/usr/bin/env python3
"""Local rehearsal of the driver's correctness gate: run every oracleSql in
DuckDB over the sfDir parquet tables, compare rows/schema-names/value-hash
against the Spark parquet dumps written by graft.Verify.

Usage: python3 tools/check_correctness.py /tmp/verify_out /root/testdata/sf0.01
"""
import duckdb, json, sys, hashlib, math

out_dir, sf_dir = sys.argv[1], sys.argv[2]
oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        x = v + 0.0  # normalizes -0.0 (round-2 ADVICE)
        if x == int(x) and abs(x) < 2**53:
            return repr(int(x))  # integral doubles compare exactly
        # relative precision for the rest: every float column the queries
        # emit is pre-rounded (round(.,2)/(.,4)), so 12 significant digits
        # is pure tolerance, not blindness
        return "%.12g" % x
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


# Documented exceptions to the float-portability lint: these columns are
# non-integral doubles whose pre-round values sit ON the rounding grid at
# both SFs (round-5 margin audit, PLANS.md "gate-output float audit") —
# maximally far from any half-boundary, so a strict hash is stable.
FLOAT_OK = {
    # o_totalprice is a VERBATIM source-parquet column (no arithmetic):
    # both engines read the identical double, so the hash cannot drift
    "q_window_topk": {"o_totalprice"},
    "q_join_agg": {"revenue"},
    "q_join_agg_bucketed": {"revenue"},
    "q_events_hourly": {"sum_value"},
    # stream_hourly emits the identical (window, type) sums as
    # q_events_hourly — same values, same measured on-grid margin
    "stream_hourly": {"sum_value"},
    "q_event_percentiles": {"p50", "p95", "p99"},
}


def float_lint(name, cols, rows):
    """Flag non-integral float gate columns — the class that hash-flips on
    a different DuckDB version (cost rounds 3 AND 4). New queries must
    emit integral/string/bool columns or justify a FLOAT_OK entry with a
    measured boundary margin."""
    bad = set()
    for r in rows:
        for i, v in enumerate(r):
            if isinstance(v, float) and not math.isnan(v):
                if v != int(v) or abs(v) >= 2**53:
                    if cols[i] not in FLOAT_OK.get(name, set()):
                        bad.add(cols[i])
    return sorted(bad)


# ---- oracle OUTPUT-TYPE lint (round-5 VERDICT "Missing #1") -----------------
# DuckDB types a naked sum(BIGINT) as HUGEINT (int128); the driver's compare
# path canonicalizes HUGEINT differently than the local fetchall path, which
# is exactly what shipped the four red CORRECTNESS_r05 rows. DESCRIBE each
# oracle and fail on any column type outside the portable set.
TYPE_OK_PREFIXES = ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "VARCHAR",
                    "BOOLEAN", "TIMESTAMP", "DOUBLE", "FLOAT")
# DOUBLE/FLOAT columns are separately policed by float_lint/FLOAT_OK above.


def type_lint(name, sql):
    try:
        desc = con.sql(f"DESCRIBE ({sql})").fetchall()
    except Exception:
        return []  # the main compare will surface real breakage
    return sorted({f"{c}:{t}" for c, t, *_ in desc
                   if not str(t).upper().startswith(TYPE_OK_PREFIXES)})


fails = 0
lint_hits = []
type_hits = []
for name in sorted(oracles):
    bad_types = type_lint(name, oracles[name])
    if bad_types:
        type_hits.append((name, bad_types))
        print(f"TYPE-LINT {name}: non-portable oracle output type(s) "
              f"{bad_types} — CAST the final aggregate to BIGINT")
for name in sorted(oracles):
    try:
        o = con.sql(oracles[name])
        ocols = [c.lower() for c in o.columns]
        orows = o.fetchall()
        s = duckdb.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        scols = [c.lower() for c in s.columns]
        srows = s.fetchall()
        row_m = len(orows) == len(srows)
        schema_m = sorted(ocols) == sorted(scols)
        oh = table_hash(ocols, orows)
        sh = table_hash(scols, srows)
        hash_m = oh == sh
        status = "OK " if (row_m and schema_m and hash_m) else "FAIL"
        if status == "FAIL":
            fails += 1
        print(f"{status} {name}: rows {len(srows)}/{len(orows)} schema={schema_m} hash={hash_m}")
        bad = float_lint(name, scols, srows)
        if bad:
            lint_hits.append((name, bad))
            print(f"   PORTABILITY: non-integral float column(s) {bad} — "
                  "integerize (floor-scale) or add a margin-audited FLOAT_OK entry")
        if status == "FAIL" and schema_m and row_m:
            oset = {tuple(map(canon, r)) for r in orows}
            sset = {tuple(map(canon, r)) for r in srows}
            print("   only-oracle:", list(oset - sset)[:3])
            print("   only-spark :", list(sset - oset)[:3])
        elif not schema_m:
            print("   oracle cols:", ocols, "spark cols:", scols)
    except Exception as e:
        fails += 1
        print(f"ERR  {name}: {e}")
print("FAILURES:", fails)
if lint_hits:
    print("PORTABILITY-LINT:", len(lint_hits), "query(ies) emit unaudited float columns")
if type_hits:
    print("TYPE-LINT:", len(type_hits),
          "query(ies) emit non-portable oracle output types (HUGEINT class)")
sys.exit(1 if (fails or lint_hits or type_hits) else 0)
