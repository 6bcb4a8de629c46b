"""\\x01-delimited + embedded-JSON sources and their micro-format codecs.

Reference inputs (UserHotcar.java:44-49, :124-129):
  profile line:  userId \\x01 {"bycar_profile": {"cityid": "2@0.9$3@0.8",
                                                 "priceid": "120000"}}
  hotcar line:   cityId \\x01 {"infoidlist": "7@100.0,8@200.0"}

Micro-formats (SURVEY §1.1):
  cityid    = "cityId@score" list joined by '$'   (fan-out per city)
  infoidlist = "infoId@price" list joined by ','  (fan-out per car)

Reference bug (SURVEY §1.3.2): Java ``split("$")`` is a regex no-op, so
only the FIRST city is ever used. ``first_city_only=True`` reproduces
that; the default implements the intended explode-all-cities semantics.

Spark-first: every plan is built from parsed SQL text — ``selectExpr``
/ ``where`` strings, a DDL schema for ``from_json``, and one SQL
template for the ``id@val`` codec, fanned out with ``inline`` — so a
reader is a handful of Dataset steps, all JVM-side expressions, no
Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hadoop_app_spark.functions.metrics import observe_counts
from hadoop_app_spark.sources.tsv import _split_sql

PROFILE_SCHEMA = "bycar_profile struct<cityid: string, priceid: string>"

CARLIST_SCHEMA = "infoidlist string"

# array<struct<id: string, val: string>> from an "a@b<sep>a@b..." list;
# get() gives a null val for an item without '@' where [1] would raise
_AT_PAIRS = "transform({items}, p -> named_struct('id', split(p, '@', -1)[0], 'val', get(split(p, '@', -1), 1)))"


def _at_pairs_sql(src: str, list_sep: str) -> str:
    return _AT_PAIRS.format(items=_split_sql(src, list_sep))


def read_delim001_json(
    spark: SparkSession,
    path: str | list[str],
    json_schema: str,
    key_name: str = "key",
    observations: dict[str, Observation] | None = None,
) -> DataFrame:
    """Generic ``key \\x01 json`` reader -> DataFrame[key, doc: struct].

    json_schema is a DDL string (``"a string, b struct<c: int>"``).
    Rows with < 2 fields are dropped (reference arity check,
    UserHotcar.java:46-48). Extra \\x01 fields beyond the second are
    ignored, matching ``split("\\x01")[1]`` indexing.

    observations: pass a dict to make the silent malformed-row drop an
    observed A4 counter — stored under ``<key_name>_source`` with
    metrics ``rows`` (in) and ``malformed_dropped``.
    """
    staged = spark.read.text(path).selectExpr(f"{_split_sql('value', chr(1))} AS _p")
    if observations is not None:
        staged, obs = observe_counts(staged, malformed_dropped=F.expr("size(_p) < 2"))
        observations[f"{key_name}_source"] = obs
    return staged.where("size(_p) >= 2").selectExpr(
        f"_p[0] AS `{key_name}`", f"from_json(_p[1], '{json_schema}') AS doc"
    )


def decode_at_pairs(src: str, list_sep: str) -> Column:
    """Decode the ``"a@b<sep>a@b..."`` list in SQL expression ``src``
    (e.g. a column name) into array<struct<id: string, val: string>> —
    the engine's reusable codec for the reference's two micro-formats."""
    return F.expr(_at_pairs_sql(src, list_sep))


def encode_at_pairs(id_col: Column, val_col: Column) -> Column:
    """Inverse codec for one pair: ``id@val``."""
    return F.concat_ws("@", id_col, val_col)


def read_user_profiles(
    spark: SparkSession,
    path: str | list[str],
    first_city_only: bool = False,
    observations: dict[str, Observation] | None = None,
) -> DataFrame:
    """Profile source -> DataFrame[user_id, city_id, city_score, fav_price].

    One output row per (user, preferred city). fav_price falls back to
    0.0 on unparseable input (UserHotcar.java:57-62 try/catch default).
    first_city_only reproduces the split("$") regex bug (§1.3.2).
    """
    raw = read_delim001_json(spark, path, PROFILE_SCHEMA, key_name="user_id", observations=observations)
    fav_price = "coalesce(try_cast(doc.bycar_profile.priceid AS double), 0D) AS fav_price"
    if first_city_only:
        # bug-compat: whole cityid string survives split('$'); only
        # split('@')[0] is used as the city id, score is [1] of pair 1
        return raw.selectExpr(
            "user_id",
            "split(doc.bycar_profile.cityid, '@', -1)[0] AS city_id",
            "CAST(NULL AS double) AS city_score",
            fav_price,
        ).where("city_id IS NOT NULL")
    return raw.selectExpr(
        "user_id", f"inline({_at_pairs_sql('doc.bycar_profile.cityid', '$')})", fav_price
    ).selectExpr(
        "user_id", "id AS city_id", "try_cast(val AS double) AS city_score", "fav_price"
    ).where("city_id != ''")


def read_city_cars(
    spark: SparkSession,
    path: str | list[str],
    dt: str | None = None,
    observations: dict[str, Observation] | None = None,
) -> DataFrame:
    """Broadcast-side source -> DataFrame[city_id, info_id, price].

    One row per (city, car). ``dt`` selects a Hive-style ``dt=yyyy-MM-dd``
    partition subdirectory (UserNewcar.java:241-247 date-partitioned
    side input) — at scale this is partition pruning, not an ls().
    """
    if dt is not None:
        if isinstance(path, str):
            path = f"{path}/dt={dt}"
        else:
            path = [f"{p}/dt={dt}" for p in path]
    raw = read_delim001_json(spark, path, CARLIST_SCHEMA, key_name="city_id", observations=observations)
    return raw.selectExpr("city_id", f"inline({_at_pairs_sql('doc.infoidlist', ',')})").selectExpr(
        "city_id", "id AS info_id", "try_cast(val AS double) AS price"
    ).where("info_id != ''")
