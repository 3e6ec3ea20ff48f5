"""Answer checks against DuckDB, used by run.py.

dashboard: each distinct request's warm-up envelope is compared with DuckDB
SQL kept here, one query per endpoint, written from the reference's
endpoint semantics (CarAnalytics). Three kinds of check:
  exact   - same rows in the same order; doubles agree to 1e-9 relative
  subset  - a LIMIT without a total order: every returned row is a row of
            the full answer (as a multiset) and the row count is right
  ordered - ORDER BY keys with ties: the key sequence is exact and the
            rows are a multiset subset of the full answer

llm_pipeline: each warm-up answer (parquet) is compared with the query's
`SparkEntry.oracleSql` under the rules of tools/check_parity.py, whose cell
comparison and table list are imported from it: an oracle with a HUGEINT
column fails, then columns by name, same row count, rows in order, cells
equal under its `cmp_cell` (decimals as floats).
"""
import hashlib
import json
import math
import os
import pickle
import sys
from decimal import Decimal

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_parity import TABLES, cmp_cell  # noqa: E402

LIMIT = 10000  # ApiEnvelope.read's row cap

ROW_REG = "coalesce(list_sum(map_values(city_license_plates)), 0)"
CAR_ID = "replace(concat_ws('_', car_brand, car_model), ' ', '_')"


def _s(expr):
    return f"coalesce(CAST({expr} AS VARCHAR), 'None')"


def _kv(expr, empty):
    return (f"CASE WHEN {expr} IS NULL THEN '{empty}' ELSE array_to_string(list_sort("
            f"list_transform(map_entries({expr}), e -> e.key || ':' || "
            f"CAST(e.value AS VARCHAR))), ',') END")


# fetchCarData's projection as one canonical string per row
FETCH_FIELDS = ["brand", "model", "guide_price", "horsepower", "doors",
                "min_price", "attention", "discount", "car_type",
                "city_license_plates", "manufacture_year", "history_prices",
                "id", "model_id"]
FETCH_SQL = {
    "brand": _s("car_brand"), "model": _s("car_model"),
    "guide_price": _s("manufacturer_suggested_price"),
    "horsepower": _s("engine_horsepower"), "doors": _s("num_doors"),
    "min_price": _s("min_reference_price"), "attention": _s("popularity"),
    "discount": _s("discount_percentage"), "car_type": _s("car_type"),
    "city_license_plates": _kv("city_license_plates", "None"),
    "manufacture_year": _s("manufacture_year"),
    "history_prices": _kv("historical_price", ""),
    "id": _s(CAR_ID), "model_id": _s(CAR_ID),
}
REC_FIELDS = ["id", "brand", "model", "guide_price", "min_price", "attention",
              "car_type"]


def _canon_value(field, v):
    if v is None:
        return "None"
    # map entries in sorted order: a map's entry order carries no meaning
    if field == "city_license_plates":
        return ",".join(sorted(f"{k}:{x}" for k, x in v.items()))
    if field == "history_prices":
        return ",".join(sorted(f"{e.get('date')}:{e.get('price')}" for e in v))
    return str(v)


def canon_key(row, fields):
    return "|".join(_canon_value(f, row.get(f)) for f in fields)


def sql_key(fields):
    return " || '|' || ".join(FETCH_SQL[f] for f in fields)


def recommendations_where(p):
    conds = []
    if "brand" in p:
        conds.append(f"car_brand = '{p['brand']}'")
    if "min_price" in p:
        conds.append(f"CAST(min_reference_price AS DOUBLE) >= {float(p['min_price'])}")
    if "max_price" in p:
        conds.append(f"CAST(min_reference_price AS DOUBLE) <= {float(p['max_price'])}")
    if "min_horsepower" in p:
        conds.append(f"engine_horsepower >= {int(p['min_horsepower'])}")
    if "doors" in p:
        conds.append(f"num_doors = {int(p['doors'])}")
    if "car_type" in p:
        conds.append(f"car_type = '{p['car_type']}'")
    return " AND ".join(conds) or "TRUE"


def exact_sql(endpoint, p):
    """DuckDB SQL for the endpoints checked row for row."""
    if endpoint == "cityRankings":
        return ("SELECT e.key AS city, SUM(e.value)::BIGINT AS registrations FROM "
                "(SELECT unnest(map_entries(city_license_plates)) AS e FROM car_data "
                "WHERE city_license_plates IS NOT NULL) GROUP BY 1 "
                "ORDER BY registrations DESC, city")
    if endpoint == "trendMetric":
        metric = {"registrations": f"SUM({ROW_REG})::BIGINT",
                  "attention": "SUM(coalesce(popularity, 0))::BIGINT",
                  "avg_price": "AVG(CAST(manufacturer_suggested_price AS DOUBLE))"}[p["metric"]]
        return (f"SELECT CAST(manufacture_year AS VARCHAR) AS date, {metric} AS value "
                "FROM car_data WHERE manufacture_year IS NOT NULL "
                "GROUP BY manufacture_year ORDER BY date")
    if endpoint == "preferencesByDimension":
        if p["dimension"] != "type":
            return ("SELECT * FROM (VALUES ('100-150马力', 0.4::DOUBLE), "
                    "('150-200马力', 0.35::DOUBLE), ('200+马力', 0.25::DOUBLE)) "
                    "v(\"range\", preference)")
        return ("WITH g AS (SELECT CASE WHEN car_type = '新能源' THEN '电动汽车' "
                f"ELSE car_type END AS type, SUM({ROW_REG}) AS w FROM car_data GROUP BY 1) "
                "SELECT type, CAST(w AS DOUBLE) / SUM(w) OVER () AS preference "
                "FROM g ORDER BY type NULLS FIRST")
    if endpoint == "brands":
        return "SELECT DISTINCT car_brand AS brand FROM car_data ORDER BY brand NULLS FIRST"
    if endpoint == "brandModels":
        return (f"SELECT DISTINCT {CAR_ID} AS id, car_model AS name FROM car_data "
                f"WHERE car_brand = '{p['brand']}' ORDER BY id")
    if endpoint == "marketOverview":
        return ("SELECT (SELECT SUM(e.value)::BIGINT FROM (SELECT unnest(map_entries("
                "city_license_plates)) AS e FROM car_data WHERE city_license_plates "
                "IS NOT NULL)) AS total_registrations, "
                "(SELECT AVG(CAST(popularity AS DOUBLE)) FROM car_data) AS avg_attention, "
                "(SELECT car_brand || ' ' || car_model || ' (关注度: ' || "
                "CAST(popularity AS VARCHAR) || ')' FROM car_data "
                f"ORDER BY popularity DESC NULLS LAST, {CAR_ID} LIMIT 1) AS top_car")
    if endpoint == "popularBrands":
        return ("SELECT car_brand AS brand, COUNT(*) AS n FROM car_data "
                "GROUP BY 1 ORDER BY brand NULLS FIRST")
    if endpoint == "priceDistribution":
        p = "CAST(min_reference_price AS DOUBLE)"
        return (
            "WITH b AS (SELECT CASE "
            f"WHEN {p} >= 0 AND {p} < 100000 THEN 0 "
            f"WHEN {p} >= 100000 AND {p} < 200000 THEN 1 "
            f"WHEN {p} >= 200000 AND {p} < 300000 THEN 2 "
            f"WHEN {p} >= 300000 AND {p} < 500000 THEN 3 "
            f"WHEN {p} >= 500000 THEN 4 END AS bucket_id, popularity FROM car_data), "
            "a AS (SELECT bucket_id, COUNT(*) AS n, CAST(SUM(CAST(popularity AS "
            "DECIMAL(18,2))) AS DOUBLE) AS s FROM b WHERE bucket_id IS NOT NULL GROUP BY 1) "
            "SELECT spine.label AS \"range\", coalesce(a.n, 0) AS \"count\", "
            "coalesce(a.s / a.n, 0.0) AS avg_attention FROM (VALUES (0, '0万-10万'), "
            "(1, '10万-20万'), (2, '20万-30万'), (3, '30万-50万'), (4, '50万以上')) "
            "spine(bucket_id, label) LEFT JOIN a USING (bucket_id) ORDER BY spine.bucket_id")
    return None


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        a, b = float(a), float(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12) or (math.isnan(a) and math.isnan(b))
    if isinstance(a, Decimal) or isinstance(b, Decimal):
        return a is not None and b is not None and Decimal(str(a)) == Decimal(str(b))
    return a == b


def _subset(con, rows, fields, where, want_n):
    """Multiset inclusion of `rows` in the filtered table, and the count."""
    if len(rows) != want_n:
        return f"rows {len(rows)} != expected {want_n}"
    con.register("spark_rows", pa.table({"k": [canon_key(r, fields) for r in rows]}))
    missing = con.sql(
        f"WITH d AS (SELECT {sql_key(fields)} AS k, COUNT(*) AS c FROM car_data "
        f"WHERE {where} GROUP BY 1), s AS (SELECT k, COUNT(*) AS c FROM spark_rows GROUP BY 1) "
        "SELECT COUNT(*) FROM s LEFT JOIN d USING (k) WHERE d.c IS NULL OR d.c < s.c"
    ).fetchone()[0]
    con.unregister("spark_rows")
    return f"{missing} returned rows are not rows of the answer" if missing else None


def check_request(con, endpoint, p, rows):
    """None if `rows` (the envelope's data) answer the request, else why not."""
    if endpoint == "fetchCarData":
        n = con.sql("SELECT COUNT(*) FROM car_data").fetchone()[0]
        return _subset(con, rows, FETCH_FIELDS, "TRUE", min(n, LIMIT))
    if endpoint == "modelDetails":
        where = f"{CAR_ID} = '{p['model_id']}'"
        n = con.sql(f"SELECT COUNT(*) FROM car_data WHERE {where}").fetchone()[0]
        return _subset(con, rows, [f for f in FETCH_FIELDS if f != "id"], where, min(n, 1))
    if endpoint == "recommendations":
        where = recommendations_where(p)
        keys = con.sql(f"SELECT popularity, {CAR_ID} FROM car_data WHERE {where} "
                       f"ORDER BY popularity DESC, 2 LIMIT {LIMIT}").fetchall()
        got = [(r.get("attention"), r.get("id")) for r in rows]
        if got != [tuple(k) for k in keys]:
            return "order keys (attention, id) differ"
        return _subset(con, rows, REC_FIELDS, where, len(keys))
    sql = exact_sql(endpoint, p)
    if sql is None:
        return f"no check for endpoint {endpoint}"
    rel = con.sql(sql)
    cols = rel.columns
    want = rel.fetchall()
    if len(want) != len(rows):
        return f"rows {len(rows)} != expected {len(want)}"
    for i, (w, g) in enumerate(zip(want, rows)):
        for c, wv in zip(cols, w):
            if not _same(wv, g.get(c)):
                return f"row {i} column {c}: want {wv!r} got {g.get(c)!r}"
    return None


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def check_dashboard(table_dir, answers_path):
    """{request key: None if correct else reason} for every warm-up answer."""
    con = connect()
    con.execute(f"CREATE VIEW car_data AS SELECT * FROM read_parquet('{table_dir}/*.parquet')")
    out = {}
    with open(answers_path, encoding="utf-8") as f:
        for line in f:
            a = json.loads(line)
            try:
                env = json.loads(a["envelope"], parse_float=Decimal)
                if env.get("status") != "success":
                    out[a["key"]] = "error envelope"
                    continue
                out[a["key"]] = check_request(con, a["endpoint"], a["params"], env["data"])
            except Exception as e:  # an unreadable answer is a wrong answer
                out[a["key"]] = f"check failed: {e}"
    return out


def oracle_rows(con, sql, cache_dir):
    """(columns, HUGEINT columns, rows) of an oracle query. The corpus is
    read-only, so an answer is cached under the hash of its SQL and the
    DuckDB version."""
    key = hashlib.sha256(f"{duckdb.__version__}\n{sql}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".v2.pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    rel = con.sql(sql)
    out = ([c.lower() for c in rel.columns],
           [c for c, t in zip(rel.columns, rel.types) if str(t) == "HUGEINT"],
           rel.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def check_llm(corpus_dir, answers_dir, oracle_path, cache_dir):
    """{query: None if it matches its oracle else reason}."""
    con = connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    with open(oracle_path, encoding="utf-8") as f:
        oracles = json.load(f)
    out = {}
    for name, sql in oracles.items():
        try:
            want_cols, huge, want_rows = oracle_rows(con, sql, os.path.join(
                cache_dir, os.path.basename(corpus_dir)))
            got = con.sql(f"SELECT * FROM read_parquet('{answers_dir}/{name}/*.parquet')")
            got_cols = [c.lower() for c in got.columns]
            got_rows = got.fetchall()
        except Exception as e:
            out[name] = f"unreadable: {e}"
            continue
        if huge:
            out[name] = f"HUGEINT oracle columns {huge}"
            continue
        if sorted(want_cols) != sorted(got_cols):
            out[name] = f"columns {sorted(got_cols)} != {sorted(want_cols)}"
            continue
        if len(want_rows) != len(got_rows):
            out[name] = f"rows {len(got_rows)} != {len(want_rows)}"
            continue
        wperm = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
        gperm = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
        bad = next(((ri, want_cols[wi]) for ri, (wr, gr) in enumerate(zip(want_rows, got_rows))
                    for wi, gi in zip(wperm, gperm) if not cmp_cell(wr[wi], gr[gi])[0]), None)
        out[name] = f"first diff row {bad[0]} column {bad[1]}" if bad else None
    return out
