"""DuckDB expectations for the car-API routes.

Each ``expect_*`` function re-derives one route's response from the raw
rows of one version of the car table (the exact file list a request
read) with SQL and Python, following the semantics documented in
``operators/car_queries.py``; :func:`response_ok` checks one recorded
response against it.
"""

from __future__ import annotations

import math

PRICE_BUCKETS = [
    (0, 100_000, "10万以下"),
    (100_000, 200_000, "10万-20万"),
    (200_000, 300_000, "20万-30万"),
    (300_000, 500_000, "30万-50万"),
    (500_000, None, "50万以上"),
]
EV_FROM, EV_TO = "新能源", "电动汽车"


def connect(files: list[str]):
    """DuckDB over exactly ``files``: one version of the car table, read
    once into memory since every route's expectation scans it."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    listed = ", ".join(f"'{f}'" for f in files)
    con.execute(
        f"""CREATE TABLE raw AS SELECT * FROM read_parquet(
              [{listed}], hive_partitioning = true)"""
    )
    con.execute(
        """CREATE VIEW cars AS SELECT
             car_brand AS brand, car_model AS model,
             manufacturer_suggested_price AS guide_price,
             engine_horsepower AS horsepower, num_doors AS doors,
             min_reference_price AS min_price, popularity AS attention,
             discount_percentage AS discount, car_type,
             city_license_plates, CAST(manufacture_year AS INTEGER) AS manufacture_year,
             replace(concat_ws('_', car_brand, car_model), ' ', '_') AS model_id
           FROM raw"""
    )
    con.execute(
        """CREATE VIEW plates AS
           SELECT unnest(map_keys(city_license_plates)) AS city,
                  unnest(map_values(city_license_plates)) AS n
           FROM raw"""
    )
    return con


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _same(got, want) -> bool:
    if isinstance(got, dict) and isinstance(want, dict):
        return got.keys() == want.keys() and all(_same(got[k], want[k]) for k in got)
    if isinstance(got, (list, tuple)) and isinstance(want, (list, tuple)):
        return len(got) == len(want) and all(_same(g, w) for g, w in zip(got, want))
    return _close(got, want)


def _map(m) -> dict:
    """A DuckDB MAP value (dict, or {'key': [...], 'value': [...]}) as a dict."""
    if m is None:
        return {}
    if set(m) == {"key", "value"} and isinstance(m["key"], list):
        return dict(zip(m["key"], m["value"]))
    return dict(m)


def _regs(con) -> dict[str, int]:
    return dict(con.execute("SELECT city, sum(n) FROM plates GROUP BY city").fetchall())


def expect_brands(con):
    rows = con.execute("SELECT DISTINCT brand FROM cars WHERE brand IS NOT NULL").fetchall()
    return sorted(r[0] for r in rows)


def expect_brand_models(con, brand):
    rows = con.execute(
        "SELECT DISTINCT model_id, model FROM cars WHERE brand = ?", [brand]
    ).fetchall()
    return [{"id": i, "name": n} for i, n in sorted(rows)]


def model_detail_candidates(con, model_id):
    """Every row that ties for first under the route's documented order
    (brand, model, manufacture_year, attention)."""
    rows = con.execute(
        """SELECT brand, model, guide_price, horsepower, doors, min_price,
                  attention, discount, car_type, manufacture_year, model_id,
                  city_license_plates
           FROM cars WHERE model_id = ?
           ORDER BY brand, model, manufacture_year, attention""",
        [model_id],
    ).fetchall()
    if not rows:
        return []
    first = rows[0][:2] + (rows[0][9], rows[0][6])
    return [r for r in rows if r[:2] + (r[9], r[6]) == first]


def expect_cities(con):
    return [{"id": i, "name": c} for i, c in enumerate(sorted(_regs(con)))]


def expect_city_rankings(con, metric):
    regs = _regs(con)
    if metric == "attention":
        ranked = [(c, 0) for c in sorted(regs)]
    else:
        ranked = sorted(regs.items(), key=lambda kv: (-kv[1], kv[0]))
    return [{"rank": i + 1, "city": c, "value": v} for i, (c, v) in enumerate(ranked)]


def expect_recommendations(con, filters):
    where, params = ["TRUE"], []
    for key, sql in (
        ("brand", "brand = ?"),
        ("min_price", "min_price >= ?"),
        ("max_price", "min_price <= ?"),
        ("min_horsepower", "horsepower >= ?"),
        ("doors", "doors = ?"),
        ("car_type", "car_type = ?"),
    ):
        if filters.get(key) is not None:
            where.append(sql)
            params.append(filters[key])
    rows = con.execute(
        f"""SELECT model_id, brand, model, guide_price, min_price, attention, car_type
            FROM cars WHERE {' AND '.join(where)}""",
        params,
    ).fetchall()
    cols = ["id", "brand", "model", "guide_price", "min_price", "attention", "car_type"]
    out = [dict(zip(cols, r)) for r in rows]
    return sorted(out, key=lambda r: (-r["attention"], r["id"]))


def expect_market_overview(con):
    total, avg_att, n_brands = con.execute(
        "SELECT coalesce(sum(n), 0) FROM plates"
    ).fetchone() + con.execute(
        "SELECT coalesce(avg(coalesce(attention, 0)), 0.0), count(DISTINCT brand) FROM cars"
    ).fetchone()
    top = con.execute(
        """SELECT attention, format('{} {} (关注度: {})', brand, model, attention) AS label
           FROM cars WHERE attention IS NOT NULL"""
    ).fetchall()
    top_car = max(top)[1] if top else None
    popular = dict(con.execute("SELECT brand, count(*) FROM cars GROUP BY brand").fetchall())
    return {
        "total_registrations": int(total),
        "avg_attention": float(avg_att),
        "brand_count": int(n_brands),
        "top_car": top_car,
        "popular_brands": popular,
    }


def expect_market_trends(con, metric):
    rows = con.execute(
        """SELECT manufacture_year,
                  sum(coalesce(list_sum(map_values(city_license_plates)), 0)),
                  sum(coalesce(attention, 0)),
                  sum(coalesce(guide_price, 0.0)) / count(*)
           FROM cars WHERE manufacture_year IS NOT NULL AND manufacture_year <> 0
           GROUP BY manufacture_year ORDER BY manufacture_year"""
    ).fetchall()
    idx = {"registrations": 1, "attention": 2, "avg_price": 3}[metric]
    conv = float if metric == "avg_price" else int
    return [{"date": str(r[0]), "value": conv(r[idx])} for r in rows]


def expect_price_distribution(con):
    out = []
    for lo, hi, label in PRICE_BUCKETS:
        cond = f"min_price >= {lo}" + (f" AND min_price < {hi}" if hi else "")
        n, avg = con.execute(
            f"SELECT count(*), avg(coalesce(attention, 0)) FROM cars WHERE {cond}"
        ).fetchone()
        out.append({"price_range": label, "count": int(n), "avg_attention": float(avg or 0.0)})
    return out


def expect_consumer_preferences(con):
    rows = con.execute(
        f"""SELECT CASE WHEN car_type = '{EV_FROM}' THEN '{EV_TO}' ELSE car_type END AS t,
                   sum(coalesce(list_sum(map_values(city_license_plates)), 0))
            FROM cars GROUP BY t"""
    ).fetchall()
    total = sum(r[1] for r in rows)
    ranked = sorted(rows, key=lambda r: (-r[1], r[0]))
    return [
        {"car_type": t, "registrations": int(n), "preference": (n / total) if total else None}
        for t, n in ranked
    ]


def _ties_ok(got: list[dict], want: list[dict], key) -> bool:
    """``got`` is a top-``len(got)`` prefix of ``want`` under ``key``:
    identical key sequence, identical rows within every complete tie
    group, and rows drawn from the cut group where the limit splits one."""
    if [key(r) for r in got] != [key(r) for r in want[: len(got)]]:
        return False
    remaining = list(want)
    for row in got:
        match = next((w for w in remaining if _same(row, w)), None)
        if match is None:
            return False
        remaining.remove(match)
    return True


def _detail_ok(detail, con, model_id) -> bool:
    fields = ("brand", "model", "guide_price", "horsepower", "doors", "min_price",
              "attention", "discount", "car_type", "manufacture_year", "model_id")
    got = tuple(detail[f] for f in fields) + (detail["city_license_plates"],)
    cands = [c[:-1] + (_map(c[-1]),) for c in model_detail_candidates(con, model_id)]
    return any(_same(got, c) for c in cands)


def response_ok(con, route: str, params: dict, data) -> bool:
    """Whether ``data`` (a read route's response data, or None for a
    missing model) matches DuckDB over the table version it was read from."""
    if route == "get_brands":
        return _same(data, expect_brands(con))
    if route == "get_brand_models":
        return _same(data, expect_brand_models(con, params["brand"]))
    if route == "get_model_details":
        if data is None:
            return not model_detail_candidates(con, params["model_id"])
        return _detail_ok(data, con, params["model_id"])
    if route == "get_cities":
        return _same(data, expect_cities(con))
    if route == "get_city_rankings":
        return _same(data, expect_city_rankings(con, params["metric"]))
    if route == "get_recommendations":
        return _ties_ok(data, expect_recommendations(con, params["filters"]),
                        key=lambda r: (-r["attention"], r["id"]))
    if route == "get_market_overview":
        return _same(data, expect_market_overview(con))
    if route == "get_market_trends":
        return _same(data, expect_market_trends(con, params["trend_metric"]))
    if route == "get_price_distribution":
        return _same(data, expect_price_distribution(con))
    if route == "get_consumer_preferences":
        return _same(data, expect_consumer_preferences(con))
    raise ValueError(route)
