"""Reference-parity query library over the ``car_data`` model.

Each function is a pure ``DataFrame -> DataFrame`` transform implementing
one endpoint pipeline from the reference (pipeline map: its 10 HTTP routes
in ``backend/app.py``). The reference fetches the whole table per request
and runs every analytical step in single-threaded Python; here the entire
pipeline is one Catalyst plan, so projection/filter pushdown, map-side
partial aggregation, and whole-stage codegen all apply.

Semantics deliberately preserved from the reference (they are observable in
its test suite ``backend/test_app.py``):

* null-as-zero aggregation inputs (``.get(k, 0)``, reference
  ``backend/app.py:114-115``) → explicit ``coalesce(col, 0)``;
* Python-falsy row guards (skip empty maps / year 0, reference
  ``backend/app.py:70-71,102-104``) → explicit ``isNotNull & != 0`` /
  ``size > 0`` predicates;
* the ``新能源 → 电动汽车`` category remap before grouping (reference
  ``backend/app.py:149-151``);
* all five histogram buckets emitted even when empty (reference
  ``backend/app.py:425-457``) — done with a static bucket dimension and a
  broadcast left join, never a driver-side loop;
* non-unique ``model_id`` resolved first-match (reference
  ``backend/app.py:300``) — emulated deterministically with ``row_number``.

Sorting in the reference is CPython's stable sort; Spark's distributed sort
has no input order, so every ranking adds a deterministic tie-breaker key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from automotive_big_data_analysis_spark.catalog import CAR_FIELD_MAPPING

# --- the car view -----------------------------------------------------------


def car_view(df: DataFrame) -> DataFrame:
    """DB table → API "car" view: rename per CAR_FIELD_MAPPING, keep
    ``city_license_plates``/``manufacture_year``, derive ``history_prices``
    (map → array<struct<date,price>>) and ``id``/``model_id``
    (brand_model, spaces → underscores). Reference: backend/app.py:33-57.

    Pure projection — no shuffle; Catalyst prunes unused source columns.
    """
    renamed = [F.col(db).alias(api) for db, api in CAR_FIELD_MAPPING.items()]
    history = F.transform(
        F.map_entries("historical_price"),
        lambda e: F.struct(e["key"].alias("date"), e["value"].alias("price")),
    ).alias("history_prices")
    model_id = F.regexp_replace(
        F.concat_ws("_", F.col("car_brand"), F.col("car_model")), " ", "_"
    )
    return df.select(
        *renamed,
        F.col("city_license_plates"),
        F.col("manufacture_year"),
        history,
        model_id.alias("id"),
        model_id.alias("model_id"),
    )


# --- scalar helpers ---------------------------------------------------------


def map_value_sum(col_name: str) -> F.Column:
    """Per-row sum of a MAP<K,INT> column's values (reference
    ``sum(license_plates.values())``, backend/app.py:107-110). Stays inside
    codegen via the ``aggregate`` higher-order function — no explode, no
    shuffle, no UDF."""
    return F.aggregate(
        F.coalesce(F.map_values(col_name), F.array()),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.coalesce(x.cast("long"), F.lit(0)),
    )


# --- endpoint pipelines -----------------------------------------------------


def brands(cars: DataFrame) -> DataFrame:
    """GET /brands → distinct brand names (backend/app.py:282-286)."""
    return cars.select("brand").where(F.col("brand").isNotNull()).distinct()


def brand_models(cars: DataFrame, brand_name: str) -> DataFrame:
    """GET /brands/<b>/models → {id, name} per model of the brand
    (backend/app.py:289-294). Distinct added because the table has
    duplicate brand+model rows across years."""
    return (
        cars.where(F.col("brand") == F.lit(brand_name))
        .select(F.col("model_id").alias("id"), F.col("model").alias("name"))
        .distinct()
    )


def model_details(cars: DataFrame, model_id: str) -> DataFrame:
    """GET /models/<id> → the first car whose model_id matches
    (backend/app.py:297-307). The reference takes Python-iteration first
    match; distributed first-match depends on scan order, so pick the
    row_number-first row under a total order for a stable result:
    (brand, model, year, attention), then the remaining scalar view
    columns, then the map and history columns in a canonical (sorted
    entries) form. Rows equal under it return equal answers. Returns 0
    rows where the reference 404s."""
    w = Window.partitionBy("model_id").orderBy(
        "brand", "model", "manufacture_year", "attention",
        "guide_price", "horsepower", "doors", "min_price", "discount", "car_type",
        F.array_sort(F.map_entries("city_license_plates")),
        F.array_sort("history_prices"),
    )
    return (
        cars.where(F.col("model_id") == F.lit(model_id))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "id")
    )


def city_registrations(cars_or_raw: DataFrame) -> DataFrame:
    """Explode every row's ``city_license_plates`` map and sum counts per
    city (backend/app.py:68-75) — the reference's key analytical move.

    ``explode`` runs map-side; the groupBy shuffles only (city, partial
    sum) pairs thanks to partial aggregation, so at 100 TB the shuffle is
    |cities| × partitions, not |rows|. Rows with null/empty maps are
    skipped (falsy guard, backend/app.py:70-71) — explode drops them
    naturally."""
    return (
        cars_or_raw.select(
            F.explode("city_license_plates").alias("city", "n")
        )
        .groupBy("city")
        .agg(F.sum("n").cast("long").alias("registrations"))
    )


def cities(cars_or_raw: DataFrame) -> DataFrame:
    """GET /cities → {id, name}; id is a dense enumeration index in the
    reference (backend/app.py:311-315). Deterministic equivalent: rank of
    the city name."""
    regs = city_registrations(cars_or_raw)
    w = Window.orderBy(F.col("city"))
    return regs.select(
        (F.row_number().over(w) - 1).alias("id"), F.col("city").alias("name")
    )


def city_rankings(cars_or_raw: DataFrame, metric: str = "registrations") -> DataFrame:
    """GET /cities/rankings?metric= → cities ordered by the metric desc
    (backend/app.py:318-328). Valid metrics: registrations | attention.
    Cities lack ``attention`` → the reference's ``.get(metric, 0)`` makes
    that ranking all-ties in input order; here attention ranks as constant
    0 with the city name as deterministic tie-breaker."""
    if metric not in ("registrations", "attention"):
        raise ValueError(f"invalid metric: {metric!r}")
    regs = city_registrations(cars_or_raw)
    if metric == "attention":
        regs = regs.withColumn("attention", F.lit(0).cast("long"))
    return regs.orderBy(F.col(metric).desc(), F.col("city"))


def recommendations(
    cars: DataFrame,
    brand: str | None = None,
    min_price: float | None = None,
    max_price: float | None = None,
    min_horsepower: int | None = None,
    doors: int | None = None,
    car_type: str | None = None,
) -> DataFrame:
    """GET /recommendations → conjunctive optional filters, then sort by
    attention desc (backend/app.py:332-374). NOTE the reference compares
    BOTH price bounds against the car's ``min_price`` field
    (backend/app.py:348-352) — preserved here.

    Every predicate is Catalyst-visible, so on a parquet/partitioned store
    all of them push down to the scan."""
    out = cars
    if brand is not None:
        out = out.where(F.col("brand") == F.lit(brand))
    if min_price is not None:
        out = out.where(F.col("min_price") >= F.lit(min_price))
    if max_price is not None:
        out = out.where(F.col("min_price") <= F.lit(max_price))
    if min_horsepower is not None:
        out = out.where(F.col("horsepower") >= F.lit(min_horsepower))
    if doors is not None:
        out = out.where(F.col("doors") == F.lit(doors))
    if car_type is not None:
        out = out.where(F.col("car_type") == F.lit(car_type))
    return out.select(
        "id", "brand", "model", "guide_price", "min_price", "attention", "car_type"
    ).orderBy(F.col("attention").desc(), F.col("id"))


def market_overview(cars: DataFrame) -> DataFrame:
    """GET /market/overview → one row: total registrations (sum over all
    maps), avg attention (0 when empty), brand count, top car label
    (backend/app.py:378-401). Single scan, one partial-agg reduce; the
    top-car argmax uses ``max_by`` rather than a sort."""
    top_label = F.format_string(
        "%s %s (关注度: %d)", F.col("brand"), F.col("model"), F.col("attention")
    )
    return cars.select(
        map_value_sum("city_license_plates").alias("regs"),
        F.coalesce(F.col("attention"), F.lit(0)).alias("attention_f"),
        F.col("brand"),
        # tie-break argmax deterministically: higher attention wins, then
        # the lexicographically largest label (reference takes first-seen).
        F.struct(
            F.col("attention").alias("a"), top_label.alias("label")
        ).alias("top_struct"),
    ).agg(
        # Python `sum([])` is 0, not NULL (reference backend/app.py:380-384)
        F.coalesce(F.sum("regs"), F.lit(0)).cast("long").alias("total_registrations"),
        F.coalesce(F.avg("attention_f"), F.lit(0.0)).alias("avg_attention"),
        F.countDistinct("brand").alias("brand_count"),
        F.max_by(
            F.col("top_struct.label"),
            F.struct(
                F.col("top_struct.a").alias("a"),
                F.col("top_struct.label").alias("l"),
            ),
        ).alias("top_car"),
    )


def popular_brands(cars: DataFrame) -> DataFrame:
    """Brand → car count portion of the overview (backend/app.py:386-388)."""
    return cars.groupBy("brand").agg(F.count("*").alias("n_cars"))


def market_trends(cars: DataFrame, metric: str = "registrations") -> DataFrame:
    """GET /market/trends?metric= → per manufacture_year: the chosen
    metric, ordered by year (backend/app.py:404-419). Metrics:
    registrations | attention | avg_price. Falsy-year rows (null or 0) are
    dropped (backend/app.py:102-104); null metric inputs count as 0
    (backend/app.py:114-115)."""
    if metric not in ("registrations", "attention", "avg_price"):
        raise ValueError(f"invalid metric: {metric!r}")
    per_year = (
        cars.where(
            F.col("manufacture_year").isNotNull() & (F.col("manufacture_year") != 0)
        )
        .select(
            "manufacture_year",
            map_value_sum("city_license_plates").alias("regs"),
            F.coalesce(F.col("attention"), F.lit(0)).alias("attention_f"),
            F.coalesce(F.col("guide_price"), F.lit(0.0)).alias("price_f"),
        )
        .groupBy("manufacture_year")
        .agg(
            F.sum("regs").cast("long").alias("registrations"),
            F.sum("attention_f").cast("long").alias("attention"),
            (F.sum("price_f") / F.count("*")).alias("avg_price"),
        )
    )
    return per_year.select(
        F.col("manufacture_year").cast("string").alias("date"),
        F.col(metric).alias("value"),
    ).orderBy(F.col("manufacture_year").cast("int"))


# Histogram bucket spec: reference backend/app.py:425-457. Half-open
# [lo, hi); the last bucket is unbounded. Labels are the reference's exact
# Chinese strings ("万" = 10,000 CNY).
PRICE_BUCKETS = [
    (0, 100_000, "10万以下"),
    (100_000, 200_000, "10万-20万"),
    (200_000, 300_000, "20万-30万"),
    (300_000, 500_000, "30万-50万"),
    (500_000, None, "50万以上"),
]


def price_distribution(cars: DataFrame) -> DataFrame:
    """GET /market/price_distribution → per price bucket of ``min_price``:
    car count + avg attention, all 5 buckets always present (empty → 0/0.0)
    (backend/app.py:422-459).

    The static 5-row bucket dimension joins LEFT from the dimension side so
    empty buckets survive; the fact side aggregates first (so the join is a
    broadcast of 5 rows against 5-ish rows, not a row-level join)."""
    spark = cars.sparkSession
    bucket_dim = spark.createDataFrame(
        [(i, lbl) for i, (_, _, lbl) in enumerate(PRICE_BUCKETS)],
        "bucket_id int, price_range string",
    )
    bucket_expr = F.lit(len(PRICE_BUCKETS) - 1)
    for i in range(len(PRICE_BUCKETS) - 2, -1, -1):
        lo, hi, _ = PRICE_BUCKETS[i]
        bucket_expr = F.when(
            (F.col("min_price") >= lo) & (F.col("min_price") < hi), F.lit(i)
        ).otherwise(bucket_expr)
    per_bucket = (
        cars.where(F.col("min_price").isNotNull())
        .select(
            bucket_expr.alias("bucket_id"),
            F.coalesce(F.col("attention"), F.lit(0)).alias("attention_f"),
        )
        .groupBy("bucket_id")
        .agg(
            F.count("*").alias("count"),
            F.avg("attention_f").alias("avg_attention"),
        )
    )
    return (
        bucket_dim.join(F.broadcast(per_bucket), "bucket_id", "left")
        .select(
            "price_range",
            F.coalesce(F.col("count"), F.lit(0)).cast("long").alias("count"),
            F.coalesce(F.col("avg_attention"), F.lit(0.0)).alias("avg_attention"),
            "bucket_id",
        )
        .orderBy("bucket_id")
        .drop("bucket_id")
    )


def consumer_preferences(cars: DataFrame) -> DataFrame:
    """GET /consumer_insights/preferences?dimension=type → per car_type:
    registrations and share of total (sums to 1.0)
    (backend/app.py:136-162). ``新能源`` is remapped to ``电动汽车``
    BEFORE grouping (backend/app.py:149-151).

    Ratio-of-total via an unpartitioned window over the *aggregated* rows
    (|car_type| rows) — the single-partition window touches only the tiny
    aggregate, never the fact table, so it is scale-safe."""
    typed = cars.select(
        F.when(F.col("car_type") == "新能源", F.lit("电动汽车"))
        .otherwise(F.col("car_type"))
        .alias("car_type"),
        map_value_sum("city_license_plates").alias("regs"),
    )
    per_type = typed.groupBy("car_type").agg(
        F.sum("regs").cast("long").alias("registrations")
    )
    total = Window.partitionBy()
    return per_type.select(
        "car_type",
        "registrations",
        (
            F.col("registrations")
            / F.nullif(F.sum("registrations").over(total), F.lit(0))
        ).alias("preference"),
    ).orderBy(F.col("registrations").desc(), F.col("car_type"))


# Hard-coded horsepower table served for every non-"type" dimension
# (reference backend/app.py:472-481 returns this constant).
HORSEPOWER_PREFERENCES = [
    ("100-200马力", 45.0),
    ("200-300马力", 35.0),
    ("300马力以上", 20.0),
]
