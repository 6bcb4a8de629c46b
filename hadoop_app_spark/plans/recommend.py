"""Car-recommendation pipeline (reference jobs 3+4: UserHotcar/UserNewcar).

Reference shape (UserHotcar.java:42-200, UserNewcar.java:42-199):
  profile (userId \\x01 JSON) -> extract preferred cities + fav price
  -> probe a side-input HashMap<city, "infoId@price,..."> (broadcast)
  -> fan-out to one row per (user, city, car)
  -> dist = |fav_price - car_price|
  -> per (user, city): sort by dist, min/max over the FULL group,
     score = 1 - (dist-min)/(max-min), keep top-K (100 hotcar / 60 newcar)
  -> emit ``userId_cityId \\x01 {"infoids": "id@score,..."}``

Spark plan: explode(cities) -> join(broadcast(city_cars)) -> ONE
aggregation per (user_id, city_id): min/max dist over the full group
plus ``slice(sort_array(collect_list(struct(dist, info_id))), 1, K)``
-> the output line is formatted straight from that sorted array. One
shuffle Exchange (hash by user_id, city_id) and no window: the
combiner-style per-group selection of the reference's reducer; the
broadcast replaces the distributed-cache machinery wholesale.
``recommend_cars`` derives its row-per-car shape from the same array
with ``posexplode`` (rank = pos + 1).

Scale notes (100 TB): the side input is bounded (~300 cities,
BASELINE.md) -> broadcast is safe. The aggregation key (user_id,
city_id) has high cardinality, so no skew concentration; AQE skew-join
handles a hot city in the join stage. Like the reference's reducer,
each group is buffered and sorted whole (one user x one city's cars).

Bug-compat flags (SURVEY §1.3):
  first_city_only — reproduce the split("$") regex no-op (§1.3.2)
  nan_compat      — emit NaN score for degenerate groups (§1.3.5)
  Ties: reference TreeSet order is shuffle-dependent (§1.3.6); we
  impose the deterministic (dist, info_id) tiebreak everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hadoop_app_spark.functions.metrics import observe_counts
from hadoop_app_spark.functions.normalize import min_max_score
from hadoop_app_spark.sources.delim001 import read_city_cars, read_user_profiles
from hadoop_app_spark.sources.sinks import write_text_lines

HOTCAR_TOP_K = 100  # UserHotcar.java:32 HOTCAR_NUM
NEWCAR_TOP_K = 60  # UserNewcar.java:33 TOP_60


def _ranked_groups(profiles: DataFrame, city_cars: DataFrame, top_k: int) -> DataFrame:
    """[user_id, city_id, min_d, max_d, top]: one row per (user, city),
    min/max dist over the whole group, ``top`` the first K
    struct<dist, info_id> in (dist, info_id) order — nulls first and NaN
    last, as an ascending sort orders them."""
    return (
        profiles.join(F.broadcast(city_cars), "city_id")
        .selectExpr("user_id", "city_id", "named_struct('dist', abs(fav_price - price), 'info_id', info_id) AS car")
        .groupBy("user_id", "city_id")
        .agg(
            F.expr("min(car.dist) AS min_d"),
            F.expr("max(car.dist) AS max_d"),
            F.expr(f"slice(sort_array(collect_list(car)), 1, {top_k}) AS top"),
        )
    )


def _score(dist: Column, nan_compat: bool) -> Column:
    return min_max_score(dist, F.col("min_d"), F.col("max_d"), nan_compat)


def _car_rows(groups: DataFrame, nan_compat: bool) -> DataFrame:
    return groups.select("user_id", "city_id", "min_d", "max_d", F.posexplode("top")).select(
        "user_id",
        "city_id",
        "col.info_id",
        "col.dist",
        _score(F.col("col.dist"), nan_compat).alias("score"),
        (F.col("pos") + 1).alias("rank"),
    )


def recommend_cars(
    profiles: DataFrame,
    city_cars: DataFrame,
    top_k: int = HOTCAR_TOP_K,
    nan_compat: bool = True,
) -> DataFrame:
    """Structured result: one row per recommended car.

    profiles:  [user_id, city_id, fav_price, ...]
    city_cars: [city_id, info_id, price]
    returns    [user_id, city_id, info_id, dist, score, rank]
    """
    return _car_rows(_ranked_groups(profiles, city_cars, top_k), nan_compat)


def assemble_output(groups: DataFrame, nan_compat: bool) -> DataFrame:
    """Format the reference's output lines from the ranked groups:
    ``user_id + "_" + city_id \\x01 {"infoids": "id@score,..."}``
    (UserHotcar.java:195-199) — items in rank order."""
    pairs = F.transform("top", lambda c: F.concat_ws("@", c["info_id"], _score(c["dist"], nan_compat).cast("string")))
    payload = F.to_json(F.struct(F.concat_ws(",", pairs).alias("infoids")))
    return groups.select(F.concat_ws("\x01", F.concat_ws("_", "user_id", "city_id"), payload).alias("value"))


def _run(
    spark: SparkSession,
    profile_path: str,
    cars_path: str,
    out_path: str | None,
    top_k: int,
    dt: str | None,
    first_city_only: bool,
    nan_compat: bool,
    observations: dict[str, Observation] | None = None,
) -> DataFrame:
    profiles = read_user_profiles(
        spark, profile_path, first_city_only=first_city_only, observations=observations
    )
    cars = read_city_cars(spark, cars_path, dt=dt, observations=observations)
    if observations is not None:
        # USER_COUNT twin (UserHotcar.java:35,97): one count per
        # (user, preferred city) row entering the join — the unit the
        # reference's mapper iterates
        profiles, observations["user_count"] = observe_counts(profiles)
    groups = _ranked_groups(profiles, cars, top_k)
    if observations is not None:
        # HOTCAR_COUNT twin (UserHotcar.java:98): recommendations emitted
        obs = observations["rec_count"] = Observation()
        groups = groups.observe(obs, F.expr("coalesce(sum(size(top)), 0) AS rows"))
    if out_path is not None:
        write_text_lines(assemble_output(groups, nan_compat), out_path)
    return _car_rows(groups, nan_compat)


def run_user_hotcar(
    spark: SparkSession,
    profile_path: str,
    hotcar_path: str,
    out_path: str | None = None,
    first_city_only: bool = False,
    nan_compat: bool = True,
    observations: dict[str, Observation] | None = None,
) -> DataFrame:
    """UserHotcar.java: top-100, undated side input.

    observations: pass a dict to collect the reference's A4 counters
    (USER_COUNT/HOTCAR_COUNT twins plus per-source malformed-drop
    counts); populated after any action on the returned frame.
    """
    return _run(
        spark, profile_path, hotcar_path, out_path, HOTCAR_TOP_K, None,
        first_city_only, nan_compat, observations,
    )


def run_user_newcar(
    spark: SparkSession,
    profile_path: str,
    newcar_path: str,
    dt: str,
    out_path: str | None = None,
    first_city_only: bool = False,
    nan_compat: bool = True,
    observations: dict[str, Observation] | None = None,
) -> DataFrame:
    """UserNewcar.java: top-60, side input read from the dt= partition
    (UserNewcar.java:241-247 — partition pruning, not directory math)."""
    return _run(
        spark, profile_path, newcar_path, out_path, NEWCAR_TOP_K, dt,
        first_city_only, nan_compat, observations,
    )
