"""Seeded input generators for the lakehouse benchmark.

Everything the engine sees is made here from the workload seed: the
star-schema tables (same schemas and value shapes as the sf-scaled test
tables the engine's queries target), the NeoWs bronze feed-days, and the
operation lists. The same seed gives byte-identical files and op lists.
"""
import datetime as dt
import json
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table, after the engine's sf-scaled test tables.
# floor_mix and the self-tests run on sf0.001, txlog_dml seeds its table
# from sf0.025's lineitem, heavy_mix runs on sf0.1.
SCALES = {
    "sf0.001": {"customer": 150, "supplier": 10, "part": 200,
                "orders": 1500, "lineitem": 6000, "events": 1000,
                "documents": 500, "embeddings": 500, "users": 15},
    "sf0.025": {"customer": 3750, "supplier": 250, "part": 5000,
                "orders": 37500, "lineitem": 150000, "events": 25000,
                "documents": 1250, "embeddings": 500, "users": 375},
    "sf0.1": {"customer": 15000, "supplier": 1000, "part": 20000,
              "orders": 150000, "lineitem": 600000, "events": 100000,
              "documents": 5000, "embeddings": 2000, "users": 1500},
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

def _rng(seed: int, salt: str) -> np.random.Generator:
    """Independent stream per (seed, table) so adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, sum(map(ord, salt)) * 7919 + len(salt)])


def _ts(days_from: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    # one file, one row group: the layout the engine's tables are read from
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def lineitem_table(seed: int, n: int, n_orders: int, n_part: int,
                   n_supp: int) -> pa.Table:
    r = _rng(seed, "lineitem")
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.1, n), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": _ts("1995-01-02", r.integers(0, 2498, n)),
    })


def _documents(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "documents")
    rnd = random.Random(seed * 31 + 7)
    texts = []
    for i in range(n):
        if i > 10 and rnd.random() < 0.05:
            # near-duplicate of an earlier document, the shape dedup targets
            texts.append(texts[rnd.randrange(i)] + " dup")
        elif i > 10 and rnd.random() < 0.002:
            texts.append(texts[rnd.randrange(i)])
        else:
            k = int(r.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in r.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in r.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "embeddings")
    v = r.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * n + 1, 64), pa.int32()),
                                   pa.array(v.reshape(-1), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def write_tables(out_dir: str, seed: int, scale: str) -> dict:
    """Write the star-schema tables (one parquet file each) into out_dir.
    Returns {table: row_count}."""
    c = SCALES[scale]
    r = _rng(seed, "dims")
    n_cust, n_supp, n_part, n_ord = c["customer"], c["supplier"], c["part"], c["orders"]
    tables = {}
    tables["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                                 "r_name": pa.array(REGIONS)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)])})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_supp), 2))})
    adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{j}" for j in r.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1))})
    ro = _rng(seed, "orders")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(ro.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[ro.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(ro.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts("1995-01-01", ro.integers(0, 2404, n_ord)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[ro.integers(0, 5, n_ord)])})
    tables["lineitem"] = lineitem_table(seed, c["lineitem"], n_ord, n_part, n_supp)
    re_ = _rng(seed, "events")
    n = c["events"]
    offs = np.sort(re_.integers(0, 30 * 86400 * 10**6, n))  # 30 days of microseconds
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(re_.integers(0, c["users"], n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[re_.integers(0, 5, n)]),
        "value": pa.array(np.round(re_.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in re_.integers(0, 100, n)])})
    tables["documents"] = _documents(seed, c["documents"])
    tables["embeddings"] = _embeddings(seed, c["embeddings"])
    for name, t in tables.items():
        _write(t, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------- floor_mix

FLOOR_QUERIES = [
    "q128_sessionize", "q27_asof_join", "q121_nb_train", "q102_kmeans_assign",
    "q328_domain_blocklist", "q149_hll_distinct", "q252_fs_linkage",
    "q120_label_moments", "q255_ann_mrr", "q19_sessionize", "q68_embed_quant",
    "q162_zipf_fit", "q85_knn_classify", "q118_media_phash", "q231_jackknife_se",
    "q13_set_ops", "q106_temperature_mix", "q187_label_prototypes",
    "q283_semantic_contam", "q32_text_tokens",
]

HEAVY_QUERIES = ["q134_triangles", "q156_modularity", "q251_source_influence",
                 "q141_cc_star"]


def query_orders(seed: int, names, passes: int = 64):
    """One seed-shuffled visiting order per pass."""
    rnd = random.Random(seed)
    out = []
    for _ in range(passes):
        o = list(names)
        rnd.shuffle(o)
        out.append(o)
    return out


# ---------------------------------------------------------------- txlog_dml

def txlog_rounds(seed: int, base_rows: int, rounds: int = 64):
    """The seeded DML sequence. Keys are row_id in [0, base_rows) plus
    appended ids above it; each DML range covers 1% of the base rows, and
    every op is followed by a read of another 1% range."""
    rnd = random.Random(seed * 1000003 + 17)
    span = max(1, base_rows // 100)
    next_id = base_rows
    out = []
    for k in range(rounds):
        def rng_lo():
            return rnd.randrange(0, max(1, next_id - span))
        n_app = max(1, base_rows // 200)
        app = {"op": "append", "from_id": next_id, "n": n_app, "seed": rnd.randrange(1 << 30)}
        next_id += n_app
        upd = {"op": "update", "lo": rng_lo(), "hi": None, "seed": rnd.randrange(1 << 30)}
        dele = {"op": "delete", "lo": rng_lo(), "hi": None}
        m_lo = rng_lo()
        n_new = max(1, span // 4)
        mrg = {"op": "merge", "lo": m_lo, "hi": m_lo + span, "from_id": next_id,
               "n": n_new, "seed": rnd.randrange(1 << 30)}
        next_id += n_new
        for op in (upd, dele):
            op["hi"] = op["lo"] + span
        # every round closes with a checkpoint and a clustering optimize,
        # so every pass runs the same op mix
        ops = [app, upd, dele, mrg, {"op": "checkpoint"}, {"op": "optimize"}]
        reads = []
        for _ in ops:
            lo = rnd.randrange(0, max(1, next_id - span))
            reads.append({"lo": lo, "hi": lo + span})
        out.append({"ops": ops, "reads": reads})
    return out


# ---------------------------------------------------- medallion_backfill

BODIES = ["Earth", "Earth", "Earth", "Earth", "Earth", "Earth", "Mars", "Venus"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct",
          "Nov", "Dec"]


def _approach(rnd: random.Random, day: dt.date, bad: bool) -> dict:
    hh, mm = rnd.randrange(24), rnd.randrange(60)
    kps = rnd.uniform(1.0, 40.0)
    au = rnd.uniform(0.001, 0.5)
    ts = dt.datetime(day.year, day.month, day.day, hh, mm, tzinfo=dt.timezone.utc)
    return {
        "close_approach_date": day.isoformat(),
        "close_approach_date_full": f"{day.year}-{MONTHS[day.month - 1]}-{day.day:02d} {hh:02d}:{mm:02d}",
        "epoch_date_close_approach": int(ts.timestamp()) * 1000,
        "relative_velocity": {
            "kilometers_per_second": "n/a" if bad else f"{kps:.10f}",
            "kilometers_per_hour": f"{kps * 3600:.10f}",
            "miles_per_hour": f"{kps * 2236.9363:.10f}"},
        "miss_distance": {
            "astronomical": f"{au:.10f}",
            "lunar": f"{au * 389.17:.10f}",
            "kilometers": f"{au * 149597870.7:.9f}",
            "miles": f"{au * 92955807.3:.10f}"},
        "orbiting_body": rnd.choice(BODIES),
    }


def _asteroid(rnd: random.Random, aid: int, day: dt.date, kind: str) -> dict:
    h = round(rnd.uniform(15.0, 30.0), 2)
    dmin = round(rnd.uniform(0.005, 1.5), 6)
    dmax = round(dmin * 2.2361, 6)
    if kind == "empty":
        approaches = []
    else:
        approaches = [_approach(rnd, day, kind == "bad")]
        if kind == "multi":
            for _ in range(rnd.randrange(1, 3)):
                approaches.append(_approach(rnd, day + dt.timedelta(days=rnd.randrange(30, 3000)), False))
    return {
        "id": str(aid), "neo_reference_id": str(aid), "name": f"({2000 + aid % 26} AB{aid % 997})",
        "nasa_jpl_url": f"https://ssd.jpl.nasa.gov/tools/sbdb_lookup.html#/?sstr={aid}",
        "absolute_magnitude_h": h,
        "is_potentially_hazardous_asteroid": rnd.random() < 0.12,
        "is_sentry_object": rnd.random() < 0.02,
        "estimated_diameter": {
            "kilometers": {"estimated_diameter_min": dmin, "estimated_diameter_max": dmax},
            "meters": {"estimated_diameter_min": round(dmin * 1000, 4),
                       "estimated_diameter_max": round(dmax * 1000, 4)}},
        "close_approach_data": approaches,
    }


FEED_START = dt.date(2026, 1, 1)
POOL = 3000
PER_DAY = 150


def feed_day(seed: int, day_index: int):
    """One NeoWs feed document for a day, plus the counts the gold layer
    must show for it. Records: ~150 asteroids drawn from a 3000-id pool,
    with multi-approach, empty-approach, bad-numeric and duplicate-id
    records at fixed seeded rates."""
    rnd = random.Random(seed * 7919 + day_index)
    day = FEED_START + dt.timedelta(days=day_index)
    ids = rnd.sample(range(2000000, 2000000 + POOL), PER_DAY)
    recs = []
    for aid in ids:
        u = rnd.random()
        kind = "multi" if u < 0.10 else "empty" if u < 0.13 else "bad" if u < 0.16 else "plain"
        recs.append(_asteroid(rnd, aid, day, kind))
    # duplicate-id records: a second, different-valued copy of ~2% of ids
    for aid in rnd.sample(ids, 3):
        recs.append(_asteroid(rnd, aid, day, "plain"))
    rnd.shuffle(recs)
    doc = {"links": {"self": "https://api.nasa.gov/neo/rest/v1/feed"},
           "element_count": len(recs),
           "near_earth_objects": {day.isoformat(): recs}}
    approached = [r for r in recs if r["close_approach_data"]]
    counts = {
        "silver": len(recs),
        "dim_asteroid": len({r["id"] for r in recs}),
        "dim_date": 1 if approached else 0,
        "dim_celestial_body": len({r["close_approach_data"][0]["orbiting_body"] for r in approached}),
        "fact": len(recs),
    }
    return day.isoformat(), json.dumps(doc, indent=1, sort_keys=True), counts


def write_feeds(out_dir: str, seed: int, days: int):
    """Land `days` bronze feed-days under out_dir; returns their
    (date, path, counts) in day order."""
    out = []
    for d in range(days):
        date, body, counts = feed_day(seed, d)
        path = f"{out_dir}/feed_{date}.json"
        with open(path, "w") as f:
            f.write(body)
        out.append({"date": date, "path": path, "batch_id": d + 1, "counts": counts})
    return out


# Fixed gold query set, run after every feed-day through GoldCatalog.
# Spark and DuckDB both accept every statement, and every LIMIT sits
# under a total ORDER BY, so answers compare exactly.
GOLD_SQL = {
    "g_recent_approaches":
        "SELECT f.asteroid_id, f.date_id, ROUND(f.miss_distance_km, 3) AS miss_km "
        "FROM fact_asteroid_approach f WHERE f.miss_distance_km IS NOT NULL "
        "ORDER BY f.miss_distance_km, f.asteroid_id, f.date_id LIMIT 20",
    "g_daily_by_body":
        "SELECT d.year, d.month, d.day, b.approaching_body, COUNT(*) AS n, "
        "ROUND(AVG(f.velocity_km_s), 3) AS avg_kms, ROUND(MIN(f.miss_distance_au), 6) AS min_au "
        "FROM fact_asteroid_approach f "
        "JOIN dim_date d ON f.date_id = d.date_id "
        "JOIN (SELECT DISTINCT celestial_body_id, approaching_body FROM dim_celestial_body) b "
        "ON f.celestial_body_id = b.celestial_body_id "
        "GROUP BY d.year, d.month, d.day, b.approaching_body",
    "g_hazard_summary":
        "SELECT a.is_hazardous, COUNT(*) AS approaches, COUNT(DISTINCT f.asteroid_id) AS asteroids, "
        "ROUND(MAX(a.diameter_max_km), 6) AS max_km "
        "FROM fact_asteroid_approach f "
        "JOIN (SELECT asteroid_id, MAX(CAST(is_hazardous AS INT)) AS is_hazardous, "
        "MAX(diameter_max_km) AS diameter_max_km FROM dim_asteroid GROUP BY asteroid_id) a "
        "ON f.asteroid_id = a.asteroid_id GROUP BY a.is_hazardous",
    "g_top_fast":
        "SELECT f.asteroid_id, ROUND(MAX(f.velocity_km_s), 4) AS vmax, COUNT(*) AS n "
        "FROM fact_asteroid_approach f WHERE f.velocity_km_s IS NOT NULL "
        "GROUP BY f.asteroid_id ORDER BY vmax DESC, f.asteroid_id LIMIT 10",
}
