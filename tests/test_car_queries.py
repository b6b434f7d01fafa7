"""Golden endpoint-semantics tests, ported from the reference's own
assertions (``backend/test_app.py:115-247``) to DataFrame level."""

from __future__ import annotations

import pytest

from automotive_big_data_analysis_spark.operators import car_queries as q


@pytest.fixture(scope="module")
def cars(car_data):
    return q.car_view(car_data).cache()


def test_car_view_shape(cars):
    row = cars.where(
        (cars.brand == "Brand1") & (cars.model == "Model1")
    ).first()
    assert row.guide_price == 85000.0
    assert row.horsepower == 150
    assert row.doors == 4
    assert row.min_price == 80000.0
    assert row.attention == 75
    assert row.discount == 5.0
    assert row.id == "Brand1_Model1"
    history = sorted((e.date, e.price) for e in row.history_prices)
    assert history == [("2023-01", 90000), ("2023-02", 88000)]


def test_brands(cars):
    # backend/test_app.py:121
    got = {r.brand for r in q.brands(cars).collect()}
    assert got == {"Brand1", "Brand2", "Brand3"}


def test_brand_models(cars):
    # backend/test_app.py:124-132
    got = {(r.id, r.name) for r in q.brand_models(cars, "Brand1").collect()}
    assert got == {("Brand1_Model1", "Model1"), ("Brand1_Model2", "Model2")}


def test_model_details_first_match(cars):
    # backend/test_app.py:135-144; 404 → empty result
    row = q.model_details(cars, "Brand2_Model1").first()
    assert row.attention == 85 and row.car_type == "Sports"
    assert q.model_details(cars, "NoSuch_Model").count() == 0


def test_city_rankings_golden(city_data):
    # backend/test_app.py:158-172: CityA=90 > CityB=85 > CityC=60 > CityD=30
    rows = q.city_rankings(city_data, "registrations").collect()
    assert [(r.city, r.registrations) for r in rows] == [
        ("CityA", 90),
        ("CityB", 85),
        ("CityC", 60),
        ("CityD", 30),
    ]


def test_city_rankings_from_full_table(car_data):
    # sums across all 4 cars' maps: A=50+30+10, B=25+60, C=40+20, D=30
    rows = q.city_rankings(car_data, "registrations").collect()
    assert [(r.city, r.registrations) for r in rows] == [
        ("CityA", 90),
        ("CityB", 85),
        ("CityC", 60),
        ("CityD", 30),
    ]


def test_cities_enumeration(city_data):
    rows = q.cities(city_data).collect()
    assert [r.name for r in rows] == ["CityA", "CityB", "CityC", "CityD"]
    assert [r.id for r in rows] == [0, 1, 2, 3]


def test_city_rankings_invalid_metric(city_data):
    with pytest.raises(ValueError):
        q.city_rankings(city_data, "bogus")


def test_recommendations_golden(cars):
    # backend/test_app.py:175-184: brand=Brand1, min_price in [80k, 250k]
    rows = q.recommendations(
        cars, brand="Brand1", min_price=80000, max_price=250000
    ).collect()
    assert {r.model for r in rows} == {"Model1", "Model2"}
    # sorted by attention desc: Model2 (90) before Model1 (75)
    assert [r.model for r in rows] == ["Model2", "Model1"]


def test_recommendations_no_filters_sorted(cars):
    rows = q.recommendations(cars).collect()
    assert [r.attention for r in rows] == [95, 90, 85, 75]


def test_recommendations_all_filters(cars):
    rows = q.recommendations(
        cars, min_horsepower=300, doors=2, car_type="Luxury"
    ).collect()
    assert len(rows) == 1 and rows[0].brand == "Brand3"


def test_market_overview_golden(cars, city_data):
    # backend/test_app.py:187-195: total_registrations=265 over car table
    row = q.market_overview(cars).first()
    assert row.total_registrations == 50 + 25 + 30 + 40 + 60 + 20 + 10 + 30
    assert row.avg_attention == pytest.approx((75 + 90 + 85 + 95) / 4)
    assert row.brand_count == 3
    assert row.top_car == "Brand3 Model1 (关注度: 95)"


def test_market_trends_golden(cars):
    # backend/test_app.py:198-207: years 2020..2023 ascending
    rows = q.market_trends(cars, "registrations").collect()
    assert [r.date for r in rows] == ["2020", "2021", "2022", "2023"]
    assert [r.value for r in rows] == [75, 70, 80, 40]
    att = q.market_trends(cars, "attention").collect()
    assert [r.value for r in att] == [75, 90, 85, 95]
    avg = q.market_trends(cars, "avg_price").collect()
    assert [r.value for r in avg] == [85000.0, 250000.0, 380000.0, 600000.0]


def test_market_trends_drops_falsy_year(spark, car_data):
    from automotive_big_data_analysis_spark.catalog import car_data_from_rows
    from tests.conftest import MOCK_CAR_DATA

    rows = list(MOCK_CAR_DATA) + [
        dict(MOCK_CAR_DATA[0], manufacture_year=0),
        dict(MOCK_CAR_DATA[0], manufacture_year=None),
    ]
    df = q.car_view(car_data_from_rows(spark, rows))
    got = q.market_trends(df, "registrations").collect()
    assert [r.date for r in got] == ["2020", "2021", "2022", "2023"]


def test_price_distribution_golden(cars):
    # backend/test_app.py:210-236: counts [1,0,1,1,1], avgs 75/0/90/85/95
    rows = q.price_distribution(cars).collect()
    assert [r.price_range for r in rows] == [
        "10万以下",
        "10万-20万",
        "20万-30万",
        "30万-50万",
        "50万以上",
    ]
    assert [r["count"] for r in rows] == [1, 0, 1, 1, 1]
    assert [r.avg_attention for r in rows] == [75.0, 0.0, 90.0, 85.0, 95.0]


def test_consumer_preferences_golden(cars):
    # backend/test_app.py:239-247: shares sum to 1.0
    rows = q.consumer_preferences(cars).collect()
    assert sum(r.preference for r in rows) == pytest.approx(1.0)
    by_type = {r.car_type: r.registrations for r in rows}
    assert by_type == {"Sedan": 75, "SUV": 70, "Sports": 80, "Luxury": 40}


def test_consumer_preferences_ev_remap(spark):
    from automotive_big_data_analysis_spark.catalog import car_data_from_rows
    from tests.conftest import MOCK_CAR_DATA

    rows = [
        dict(MOCK_CAR_DATA[0], car_type="新能源"),
        dict(MOCK_CAR_DATA[1], car_type="电动汽车"),
    ]
    df = q.car_view(car_data_from_rows(spark, rows))
    got = q.consumer_preferences(df).collect()
    assert len(got) == 1 and got[0].car_type == "电动汽车"
    assert got[0].registrations == 75 + 70


def test_popular_brands(cars):
    got = {(r.brand, r.n_cars) for r in q.popular_brands(cars).collect()}
    assert got == {("Brand1", 2), ("Brand2", 1), ("Brand3", 1)}


@pytest.mark.parametrize(
    "other",
    [
        # ties on (brand, model, year, attention), differs in a scalar column
        {"manufacturer_suggested_price": 99000.0},
        # ties on every scalar column, differs only in a map column
        {"city_license_plates": {"CityA": 50, "CityZ": 1}},
    ],
)
def test_model_details_stable_under_input_order(spark, other):
    from automotive_big_data_analysis_spark.catalog import car_data_from_rows
    from tests.conftest import MOCK_CAR_DATA

    a = MOCK_CAR_DATA[0]
    b = dict(a, **other)
    got = [
        q.model_details(q.car_view(car_data_from_rows(spark, rows)), "Brand1_Model1")
        .collect()
        for rows in ([a, b], [b, a])
    ]
    assert len(got[0]) == 1
    assert got[0][0].asDict(recursive=True) == got[1][0].asDict(recursive=True)


@pytest.mark.parametrize("order", [1, -1])
def test_market_overview_attention_tie_and_null_brand(spark, order):
    from automotive_big_data_analysis_spark.catalog import car_data_from_rows

    rows = [
        dict(car_brand="A", car_model="Z", popularity=9),
        dict(car_brand="B", car_model="Y", popularity=9),
        dict(car_brand=None, car_model="X", popularity=3),
    ][::order]
    cars = q.car_view(car_data_from_rows(spark, rows))
    row = q.market_overview(cars).first()
    # an attention tie goes to the larger label
    assert row.top_car == "B Y (关注度: 9)"
    # a null brand is not a distinct brand, but popular_brands keeps it
    assert row.brand_count == 2
    got = {r.brand: r.n_cars for r in q.popular_brands(cars).collect()}
    assert got == {"A": 1, "B": 1, None: 1}
