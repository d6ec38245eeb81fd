"""Schema registry: the reference's migration-managed table shapes as
``StructType``s (SURVEY §1.3).  Replaces the 64 SQL migrations — the final
post-migration shape of each table, declared once.

Dynamic schema change is forbidden in the reference (``CsvToDb.create_table``
raises, src/_utils/database.py:176-180); here the registry is the single
source of truth and ``conform`` casts/validates an incoming frame against it.

Type decisions (SURVEY §1.2): Postgres TIME → seconds-of-day int;
``TEXT[]`` → ``array<string>``; GENERATED columns are *not* in the stored
schema — they are derived at view-build time (domain/views.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def _s(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


S, I, L, D, B, TS, DT = (T.StringType(), T.IntegerType(), T.LongType(),
                         T.DoubleType(), T.BooleanType(), T.TimestampType(),
                         T.DateType())
SA = T.ArrayType(T.StringType())

#: table name → (schema, primary key columns)
REGISTRY: dict[str, tuple[T.StructType, tuple[str, ...]]] = {
    # --- app reviews (migration_011.sql:18-41, migration_000.sql:220-231) ---
    "appstore_review": (_s(("app_id", S), ("review_id", S), ("text", S),
                           ("rating", I), ("app_version", S), ("vote_count", I),
                           ("vote_sum", I), ("title", S), ("post_date", TS),
                           ("country_code", S)),
                        ("app_id", "review_id")),
    "gplay_review": (_s(("playstore_review_id", S), ("text", S), ("rating", I),
                        ("app_version", S), ("thumbs_up", I), ("title", S),
                        ("date", TS), ("app_id", S)),
                     ("playstore_review_id",)),
    # --- social media (migration_011/013/015/005/009/000) ---
    "fb_post": (_s(("page_id", S), ("post_id", S), ("post_date", TS),
                   ("text", S)),
                ("page_id", "post_id")),
    "fb_post_comment": (_s(("post_id", S), ("comment_id", S), ("page_id", S),
                           ("post_date", TS), ("text", S),
                           ("is_from_museum", B), ("response_to", S)),
                        ("post_id", "comment_id")),
    "fb_post_performance": (_s(("page_id", S), ("post_id", S),
                               ("timestamp", TS), ("react_like", I),
                               ("react_love", I), ("react_wow", I),
                               ("react_haha", I), ("react_sorry", I),
                               ("react_anger", I), ("likes", I), ("shares", I),
                               ("comments", I), ("video_clicks", I),
                               ("link_clicks", I), ("other_clicks", I),
                               ("negative_feedback", I),
                               ("paid_impressions", I), ("post_impressions", I),
                               ("post_impressions_unique", I)),
                            ("page_id", "post_id", "timestamp")),
    "ig_post": (_s(("ig_post_id", S), ("text", S), ("post_date", TS),
                   ("media_type", S), ("likes", I), ("comments", I),
                   ("permalink", S), ("thumbnail_uri", S)),
                ("ig_post_id",)),
    "ig_post_performance": (_s(("ig_post_id", S), ("timestamp", TS),
                               ("impressions", I), ("reach", I),
                               ("engagement", I), ("saved", I),
                               ("video_views", I), ("delta_impressions", I),
                               ("delta_reach", I), ("delta_engagement", I),
                               ("delta_saved", I), ("delta_video_views", I)),
                            ("ig_post_id", "timestamp")),
    "tweet": (_s(("user_id", S), ("tweet_id", S), ("text", S),
                 ("response_to", S), ("post_date", TS)),
              ("tweet_id",)),
    "tweet_performance": (_s(("tweet_id", S), ("timestamp", TS), ("likes", I),
                             ("retweets", I), ("replies", I)),
                          ("tweet_id", "timestamp")),
    "tweet_author": (_s(("user_id", S), ("user_name", S), ("role", S)),
                     ("user_id",)),
    "google_maps_review": (_s(("google_maps_review_id", S), ("post_date", TS),
                              ("rating", I), ("text", S), ("text_english", S),
                              ("language", S), ("place_id", S),
                              ("permalink", S)),
                           ("google_maps_review_id",)),
    # --- gomus (migration_000/007/032/036/052/018) ---
    "gomus_customer": (_s(("customer_id", L), ("postal_code", S),
                          ("newsletter", B), ("gender", S), ("category", S),
                          ("language", S), ("country", S), ("type", S),
                          ("register_date", DT), ("annual_ticket", B),
                          ("valid_mail", B), ("cleansed_postal_code", S),
                          ("cleansed_country", S), ("tourism_tags", SA),
                          ("latitude", D), ("longitude", D)),
                       ("customer_id",)),
    "gomus_booking": (_s(("booking_id", L), ("customer_id", L),
                         ("category", S), ("participants", I), ("guide_id", L),
                         ("duration", I), ("exhibition", S), ("title", S),
                         ("status", S), ("start_datetime", TS),
                         ("order_date", DT), ("language", S)),
                      ("booking_id",)),
    "gomus_order": (_s(("order_id", L), ("order_date", DT),
                       ("customer_id", L), ("valid", B), ("paid", B),
                       ("origin", S)),
                    ("order_id",)),
    "gomus_order_contains": (_s(("article_id", L), ("article_type", S),
                                ("order_id", L), ("ticket", S), ("date", DT),
                                ("quantity", I), ("price", D),
                                ("is_cancelled", B)),
                             ("article_id",)),
    "gomus_event": (_s(("event_id", L), ("customer_id", L), ("booking_id", L),
                       ("reservation_count", I), ("order_date", DT),
                       ("status", S), ("category", S)),
                    ("event_id",)),
    "gomus_daily_entry": (_s(("id", L), ("datetime", TS), ("ticket", S),
                             ("count", I), ("unique_count", I)),
                          ("id", "datetime")),
    "gomus_quota": (_s(("quota_id", L), ("name", S), ("creation_date", TS),
                       ("update_date", TS)),
                    ("quota_id",)),
    # TIME-of-day → seconds-of-day int (SURVEY §1.2 decision)
    "gomus_capacity": (_s(("quota_id", L), ("date", DT), ("time", I),
                          ("max", I), ("sold", I), ("reserved", I),
                          ("available", I), ("last_updated", TS)),
                       ("quota_id", "date", "time")),
    "exhibition_raw": (_s(("title", S), ("picture_url", S)), ("title",)),
    "exhibition_time": (_s(("title", S), ("start_date", DT), ("end_date", DT)),
                        ("title", "start_date", "end_date")),
}

#: CHECK constraints (SURVEY §1.2): Spark has no engine-side CHECK — these
#: are validated by ``check_constraints`` at write time.
CHECKS: dict[str, list[str]] = {
    "gomus_capacity": ["max - sold - reserved = available"],  # migration_052.sql:19
}


def schema(table: str) -> T.StructType:
    return REGISTRY[table][0]


def conform(df: DataFrame, table: str) -> DataFrame:
    """Project + cast a frame to the registered schema (order included).

    Mirrors the reference's fixed-schema discipline: unknown columns are an
    error (the reference raises on schema drift), missing nullable columns
    are filled with NULL.
    """
    sch = schema(table)
    known = {f.name for f in sch.fields}
    extra = [c for c in df.columns if c not in known]
    if extra:
        raise ValueError(f"{table}: unexpected columns {extra}")
    cols = [
        (F.col(f.name) if f.name in df.columns else F.lit(None))
        .cast(f.dataType).alias(f.name)
        for f in sch.fields
    ]
    return df.select(*cols)


def check_constraints(df: DataFrame, table: str) -> DataFrame:
    """Return rows violating the table's CHECK constraints (empty = valid)."""
    checks = CHECKS.get(table, [])
    if not checks:
        return df.limit(0)
    cond = None
    for c in checks:
        bad = ~F.coalesce(F.expr(c), F.lit(False))
        cond = bad if cond is None else (cond | bad)
    return df.filter(cond)
