"""Output checks of a benchmark run. None of this is timed.

Query results are compared with DuckDB under the rules of the repo's
tools/check_oracle.py (columns by name, rows sorted, floats at 1e-9, no
pandas dtype-class clash), loaded from the checkout so both gates agree.
"""
import glob
import importlib.util
import os

import duckdb
import pandas as pd

GOLD_TABLES = ("dim_asteroid", "dim_celestial_body", "dim_date", "fact_asteroid_approach")
FACT_COLUMNS = ["approach_event_id", "asteroid_id", "date_id", "celestial_body_id",
                "approach_datetime", "velocity_km_s", "velocity_km_h",
                "miss_distance_km", "miss_distance_au", "miss_distance_lunar",
                "_etl_batch_id", "_processing_timestamp"]


def oracle_rules(root):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def read_result(d):
    files = sorted(glob.glob(f"{d}/*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


def compare(got: pd.DataFrame, exp: pd.DataFrame, rules):
    """None when equal under the oracle rules, else why not."""
    g, e = rules.canon(got), rules.canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns differ: {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows differ: {len(g)} vs {len(e)}"
    clash = rules.dtype_lint("", g, e)
    if clash:
        return f"dtype clash: {clash}"
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-9)
    except AssertionError as ex:
        return f"values differ: {str(ex)[:300]}"
    return None


def duck(views: dict):
    con = duckdb.connect()
    con.execute("SET threads=2")
    for name, src in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def check_queries(checks, out_dir, data_dir, tables, rules):
    """floor_mix / heavy_mix: every executed query against its oracle SQL."""
    fails = []
    oracle = checks.get("oracle_sql", {})
    con = duck({t: f"{data_dir}/{t}.parquet" for t in tables})
    for q in checks.get("results", []):
        if q not in oracle:
            fails.append(f"{q}: no oracle SQL")
            continue
        why = compare(read_result(f"{out_dir}/results/{q}"), con.execute(oracle[q]).fetchdf(), rules)
        if why:
            fails.append(f"{q}: {why}")
    if not checks.get("results"):
        fails.append("no query produced a result")
    return fails


def check_txlog(checks):
    """The table equals its plain-DataFrame twin, now and at one older version."""
    fails = []
    if not checks.get("commits"):
        fails.append("no commit ran")
    for at in ("final", "mid"):
        t, w = checks.get(f"table_{at}"), checks.get(f"twin_{at}")
        if t is None or t != w:
            fails.append(f"{at} snapshot {t} != twin {w}")
    return fails


def check_medallion(checks, out_dir, expected, gold_sql, rules):
    """Counts equal the generator's, keys resolve, answers match DuckDB,
    and (traced) the step-by-step path landed the same gold."""
    fails = []
    wh = checks["warehouse"]
    gold = f"{wh}/gold"
    con = duck({t: f"{gold}/{t}/*.parquet" for t in GOLD_TABLES})
    silver = con.execute(
        f"SELECT count(*) FROM read_parquet('{wh}/silver/nasa_asteroids/*/*.parquet')").fetchone()[0]
    got = {"silver": silver}
    for key, t in (("dim_asteroid", "dim_asteroid"), ("dim_date", "dim_date"),
                   ("dim_celestial_body", "dim_celestial_body"), ("fact", "fact_asteroid_approach")):
        got[key] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
    for k, v in expected.items():
        if got.get(k) != v:
            fails.append(f"{k} rows {got.get(k)} != generated {v}")
    dangling = con.execute("""
        SELECT
          (SELECT count(*) FROM fact_asteroid_approach f WHERE NOT EXISTS
             (SELECT 1 FROM dim_asteroid a WHERE a.asteroid_id = f.asteroid_id)),
          (SELECT count(*) FROM fact_asteroid_approach f WHERE f.date_id IS NOT NULL AND NOT EXISTS
             (SELECT 1 FROM dim_date d WHERE d.date_id = f.date_id)),
          (SELECT count(*) FROM fact_asteroid_approach f WHERE f.celestial_body_id IS NOT NULL AND NOT EXISTS
             (SELECT 1 FROM dim_celestial_body b WHERE b.celestial_body_id = f.celestial_body_id))
    """).fetchone()
    if any(dangling):
        fails.append(f"unresolved fact keys (asteroid, date, body): {dangling}")
    for name, sql in gold_sql.items():
        why = compare(read_result(f"{out_dir}/gold/{name}"), con.execute(sql).fetchdf(), rules)
        if why:
            fails.append(f"{name}: {why}")
    shown = set(checks.get("show_tables", []))
    missing = set(GOLD_TABLES) - shown
    if missing:
        fails.append(f"SHOW TABLES lacks {sorted(missing)}")
    if checks.get("describe") != FACT_COLUMNS:
        fails.append(f"DESCRIBE fact_asteroid_approach gave {checks.get('describe')}")
    if "twin_gold" in checks and checks["gold"] != checks["twin_gold"]:
        fails.append(f"step-by-step gold {checks['gold']} != runFromBronze gold {checks['twin_gold']}")
    return fails
